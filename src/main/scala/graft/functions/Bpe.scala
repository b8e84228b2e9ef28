package graft.functions

/** Byte-pair encoding (Sennrich, Haddow & Birch, "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016) — the
  * tokenizer-training + token-counting step of a corpus pipeline.
  *
  * Distributed shape: BPE TRAINING is inherently sample-based (real
  * tokenizers train on a few GB of a multi-TB corpus), so [[train]]
  * runs on a driver-collected word-frequency map from a deterministic
  * sample; ENCODING is the part that must scale, and it does — one
  * codegen'd kernel call per document ([[BpeTokenCountExpr]] /
  * [[BpeEncodeExpr]]), with the merge table compiled once per
  * executor from the plan-literal spec (no join, no shuffle, no
  * per-row interpretation of the merge list).
  *
  * Determinism: merge selection breaks count ties by the
  * lexicographically smallest pair, so the same sample always yields
  * the same merge table on any engine/JVM.
  *
  * Reference analog: none — tokenization is beyond the reference's
  * analytics surface; part of this library's training-pipeline layer.
  */
object Bpe {

  /** End-of-word marker, appended as a standalone symbol so merges
    * can capture word-final units (the ACL'16 formulation). */
  val Eow = "</w>"

  /** Greedy merge-rank application to one word: repeatedly merge the
    * present pair with the LOWEST rank until none applies. */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): List[String] = {
    var parts: List[String] = word.map(_.toString).toList ::: List(Eow)
    var done = false
    while (!done && parts.lengthCompare(1) > 0) {
      // lowest-rank adjacent pair present
      var best: (String, String) = null
      var bestRank = Int.MaxValue
      var it = parts
      while (it.tail.nonEmpty) {
        val r = ranks.getOrElse((it.head, it.tail.head), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = (it.head, it.tail.head) }
        it = it.tail
      }
      if (best == null) done = true
      else {
        // merge every occurrence, left to right
        val out = List.newBuilder[String]
        var rest = parts
        while (rest.nonEmpty) {
          rest match {
            case a :: b :: t if (a, b) == best => out += a + b; rest = t
            case a :: t => out += a; rest = t
            case Nil => ()
          }
        }
        parts = out.result()
      }
    }
    parts
  }

  /** A word's output tokens: [[encodeWord]]'s symbols without a
    * standalone trailing [[Eow]]. A last symbol that never merged with
    * the marker leaves it alone at the end; it marks the word boundary,
    * not a token, and subword-nmt's `apply_bpe` drops it too. */
  private def wordTokens(word: String, ranks: Map[(String, String), Int]): List[String] =
    encodeWord(word, ranks) match {
      case syms if syms.last == Eow => syms.init
      case syms => syms
    }

  /** Learn `nMerges` merges from a word-frequency table (classic BPE
    * training loop; ties: highest count, then smallest pair). */
  def train(wordFreq: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    var vocab: Map[List[String], Long] = wordFreq
      .groupMapReduce(w => w._1.map(_.toString).toList ::: List(Eow))(_._2)(_ + _)
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach { p =>
          counts.update(p, counts.getOrElse(p, 0L) + f)
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.groupMapReduce {
          case (syms, _) => mergeAll(syms, best)
        }(_._2)(_ + _)
        i += 1
      }
    }
    merges.result()
  }

  private def mergeAll(syms: List[String], pair: (String, String)): List[String] = {
    val out = List.newBuilder[String]
    var rest = syms
    while (rest.nonEmpty) {
      rest match {
        case a :: b :: t if (a, b) == pair => out += a + b; rest = t
        case a :: t => out += a; rest = t
        case Nil => ()
      }
    }
    out.result()
  }

  /** Serialize merges as a plan-literal spec: pairs ';'-separated,
    * symbols ' '-separated (symbols are [a-z0-9]+ runs and the
    * marker — never contain either separator). */
  def render(merges: Seq[(String, String)]): String =
    merges.map { case (a, b) => s"$a $b" }.mkString(";")

  /** Parse [[render]]'s output back into rank order. */
  def parseRanks(spec: String): Map[(String, String), Int] =
    if (spec.isEmpty) Map.empty
    else spec.split(';').iterator.zipWithIndex.map { case (p, i) =>
      val sep = p.indexOf(' ')
      (p.substring(0, sep), p.substring(sep + 1)) -> i
    }.toMap

  // ------- per-row kernels (called from codegen'd expressions) -------

  /** Compiled spec: parsed ranks plus a PER-TASK word→tokens memo.
    * `wordTokens` is a pure function of (word, ranks), and natural
    * text is Zipf-distributed — the same few thousand words repeat
    * throughout a corpus — so memoizing turns the greedy merge loop
    * into a hash probe for most word instances (what production
    * tokenizers do). Results are identical by purity.
    *
    * Scope: the memo lives for ONE task attempt (the guide §4.5
    * once-per-task-state shape) and is dropped when the thread picks
    * up the next task — deliberately NOT a JVM-global cache, which
    * would let a later benchmark run reuse encodings computed by an
    * earlier one (the no-cross-run-memo rule). Insert-only and
    * size-capped: once full, misses just run the merge loop. */
  private final class Compiled(val ranks: Map[(String, String), Int]) {
    private final class TaskMemo(var attempt: Long) {
      var map = new java.util.HashMap[String, List[String]]()
    }
    private val local = new ThreadLocal[TaskMemo]() {
      override def initialValue(): TaskMemo = new TaskMemo(-2L)
    }
    def encodeCached(w: String): List[String] = {
      val tc = org.apache.spark.TaskContext.get()
      val attempt = if (tc == null) -1L else tc.taskAttemptId()
      val m = local.get()
      if (m.attempt != attempt) {
        m.attempt = attempt
        m.map = new java.util.HashMap[String, List[String]]()
      }
      val hit = m.map.get(w)
      if (hit != null) hit
      else {
        val r = wordTokens(w, ranks)
        if (m.map.size < (1 << 16)) m.map.put(w, r)
        r
      }
    }
  }

  /** Compiled-ranks cache: one parse per executor per spec, not per
    * row. Specs are plan literals, so the cache has O(#queries)
    * entries. */
  private val rankCache =
    new java.util.concurrent.ConcurrentHashMap[String, Compiled]()

  private def compiledFor(spec: String): Compiled = {
    val hit = rankCache.get(spec)
    if (hit != null) hit
    else {
      val r = new Compiled(parseRanks(spec))
      val prev = rankCache.putIfAbsent(spec, r)
      if (prev != null) prev else r
    }
  }

  private def tokenizeWords(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Kernel: BPE token count of a document under the given merges. */
  def tokenCount(text: String, spec: String): Long = {
    val c = compiledFor(spec)
    var n = 0L
    tokenizeWords(text).foreach(w => n += c.encodeCached(w).length)
    n
  }

  /** Kernel: the document's BPE token sequence (words concatenated). */
  def encode(text: String, spec: String): Array[String] = {
    val c = compiledFor(spec)
    val out = Array.newBuilder[String]
    tokenizeWords(text).foreach(w => out ++= c.encodeCached(w))
    out.result()
  }

  /** ArrayData bridge for the codegen'd bpe_encode call. */
  def encodeArray(text: String, spec: String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      encode(text, spec).map(org.apache.spark.unsafe.types.UTF8String.fromString(_))
        .asInstanceOf[Array[Any]])
}
