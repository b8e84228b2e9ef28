package graft

/** Cluster-readiness pin: results must not depend on the partition
  * layout. local[32] with a fixed shuffle width can hide
  * order-dependent aggregation, first-row-wins races, and
  * driver-sample nondeterminism that a 1000-executor cluster would
  * expose — so a sample of queries (covering dedup, clustering,
  * Bloom-prefiltered joins, BPE training, window idioms, and the
  * mixing/replication family) re-runs with a different
  * `spark.sql.shuffle.partitions` and must return byte-identical
  * rows, and once more with every scan spread over the cores
  * (`spark.sql.files.minPartitionNum`) where it would read as one
  * split. Trained-model queries (k-means paths) are excluded by
  * design: their float-reduction order is run-dependent and their
  * specs pin recall instead. */
class PartitionInvarianceSpec extends SparkSpec {

  private val names = Seq(
    "q01_agg_pricing_summary",
    "q42_exact_dedup",
    "q47_neardup_minhash_lsh", // hot buckets are SKIPPED not truncated, so the cap is order-free
    "q99_neardup_clusters",
    "q103_repetition_stats",
    "q104_decontaminate",
    "q105_normalize_dedup",
    "q106_stratified_mix",
    "q108_bpe_tokenize",
    "q109_epoch_replication",
    "q110_corpus_cartography",
    "q111_dedup_against_history",
    "q113_retention_cohorts",
    "q114_cumulative_users",
    "q115_dau_wau_state_merge",
    "q116_funnel_conversion",
    "q117_volume_anomaly",
    "q118_vocabulary_rollup",
    "q119_pii_scrub",
    "q120_ngram_containment",
    "q121_corpus_cube",
    "q122_deterministic_sample",
    "q123_simhash_neardup")

  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq

  test("query results are invariant under a different shuffle width") {
    val key = "spark.sql.shuffle.partitions"
    val original = spark.conf.get(key)
    try {
      names.foreach { name =>
        spark.conf.set(key, original)
        val wide = run(name)
        spark.conf.set(key, "5")
        val narrow = run(name)
        assert(wide === narrow, s"$name changed under repartitioning")
        assert(wide.nonEmpty, s"$name returned nothing at $sfDir")
      }
    } finally spark.conf.set(key, original)
  }

  test("query results are invariant under a spread scan") {
    // the sf0.001 inputs read as one split by default (SingleSplitScan);
    // an explicit minPartitionNum spreads them over the cores, so the
    // multi-partition plans with their exchanges stay under test
    val key = "spark.sql.files.minPartitionNum"
    names.foreach { name =>
      val single = run(name)
      spark.conf.set(key, "4")
      val spread = try run(name) finally spark.conf.unset(key)
      assert(single === spread, s"$name changed under a spread scan")
      assert(single.nonEmpty, s"$name returned nothing at $sfDir")
    }
  }
}
