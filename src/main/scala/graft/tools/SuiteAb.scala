package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved A/B of a dev knob on REGISTERED suite queries (the
  * sf-dir surface) — AbBench's discipline (adjacent runs share host
  * weather; decide by pairs-won + mins) pointed at graft.SparkEntry
  * queries instead of the hits table.
  *
  * Usage: SuiteAb <query-prefix-csv> [reps] [knob] [sfDir]
  *   knob: "packfixed" (fixed-width packed blob records on/off)
  */
object SuiteAb {
  def main(args: Array[String]): Unit = {
    val prefixes = args.headOption.getOrElse("q99_").split(",").map(_.trim)
    val reps = args.lift(1).map(_.toInt).getOrElse(4)
    val knob = args.lift(2).getOrElse("packfixed")
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    require(knob == "packfixed", s"unknown knob: $knob")
    val setA = () => graft.operators.SketchAgg.packFixedEnabled = true
    val setB = () => graft.operators.SketchAgg.packFixedEnabled = false
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.ui.enabled", "false")
    val spark = CacheKeeper.benchLocalDir()
      .fold(builder0)(d => builder0.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    CacheKeeper.pin(Seq(dir))
    val names = prefixes.flatMap(p =>
      graft.SparkEntry.queries.keys.filter(_.startsWith(p))).distinct.sorted
    require(names.nonEmpty, "no matching queries")
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      // JIT pre-lap on both variants
      setA(); once(name); setB(); once(name)
      val as = collection.mutable.ArrayBuffer.empty[Double]
      val bs = collection.mutable.ArrayBuffer.empty[Double]
      var aWins = 0
      (1 to reps).foreach { i =>
        setA(); val a = once(name)
        setB(); val b = once(name)
        as += a; bs += b
        if (a < b) aWins += 1
        System.err.println(f"[suiteab:$knob] $name pair$i A=$a%.3f B=$b%.3f")
      }
      setA()
      def st(xs: Seq[Double]) =
        f"min=${xs.min}%.3f med=${xs.sorted.apply(xs.size / 2)}%.3f"
      println(f"[suiteab:$knob] $name A(${st(as.toSeq)}) B(${st(bs.toSeq)}) " +
        f"aWins=$aWins/$reps")
    }
    spark.stop()
  }
}
