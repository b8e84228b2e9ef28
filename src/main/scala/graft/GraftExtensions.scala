package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{AnyHeavy, BloomContainsAnyExpr, BpeEncodeExpr, BpeTokenCountExpr, CharWeightedFingerprintExpr, CosineSimExpr, HyperplaneProjExpr, L2SqExpr, PHash64Expr, VecNorm2Expr, MinHashSigExpr, NGramContainmentExpr, NGramDistinctCountExpr, NGramJaccardExpr, QuantileTDigest, QuantileTiming, RepetitionStatsExpr, RollingFingerprintExpr, SimHashExpr, SipHash64Expr, TokenNgramHashesExpr, UniqUpTo, UniqUpToMerge, UniqUpToState}

/** Function-surface extension (the analog of the reference's
  * FunctionFactory / AggregateFunctionFactory registration,
  * dbms/src/Functions/FunctionFactory.cpp): native expressions and
  * TypedImperativeAggregates become SQL-callable.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.GraftExtensions` (injection at
  *    session build, the SparkSessionExtensions path);
  *  - `GraftFunctions.register(spark)` for an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    // CH's UInt8-as-boolean semantics in WHERE/ON/CASE/NOT seats
    ext.injectResolutionRule(_ => graft.plans.ChBooleanCoercion)
    // CH integer date/datetime arithmetic (date + Int64, datetime ± n)
    ext.injectResolutionRule(_ => graft.plans.ChImplicitCasts)
    // Enum name↔value semantics over metadata-tagged numeric columns
    ext.injectResolutionRule(_ => graft.plans.ChEnumCoercion)
    // toTypeName folds to the reference spelling while ChTypeTag
    // markers are still visible (analysis-time, corpus 00433/00435)
    ext.injectResolutionRule(_ => graft.plans.ChTypeNameResolution)
    // year(d) = N → a half-open date range, so parquet row-group
    // stats and partition pruning fire (PKCondition.cpp's monotonic
    // function analysis, restated as a Catalyst rewrite)
    ext.injectOptimizerRule(_ => graft.plans.SargableDates)
    // GROUP BY '__all' (keyless-agg empty-input semantics) → no-key
    // aggregate + count guard, restoring the single-buffer fast path
    ext.injectOptimizerRule(_ => graft.plans.ConstGroupToGlobalAgg)
    // GROUP BY x, x-1, x-2 → GROUP BY x (derived keys recompute above
    // the aggregate instead of riding every hash entry + shuffle row)
    ext.injectOptimizerRule(_ => graft.plans.DropDerivedGroupKeys)
    // uniq-sketch GROUP BYs: typed-hash-table physical aggregation
    // (the Aggregator.cpp specialization) instead of the generic
    // ObjectHashAggregate per-row path — bit-identical results
    ext.injectPlannerStrategy(_ => graft.operators.SketchAggStrategy)
    // a parquet scan of at most 20 × 8192 rows reads as one split, so
    // the aggregate, sort or window above it plans no exchange (the
    // reference's merge_tree_min_rows_for_concurrent_read)
    ext.injectQueryPostPlannerStrategyRule(s => graft.operators.SingleSplitScan(s))
    // over one partition, a Partial→Final aggregate pair runs as one
    // complete pass (the reference's one-stream Aggregator), and an
    // interpreted plan's ORDER BY … LIMIT orders without compiling
    ext.injectQueryPostPlannerStrategyRule(s => graft.operators.SingleStream(s))
  }
}

object GraftFunctions {
  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  /** DateTime first arg of the sequence aggregates → epoch seconds
    * (legacy cast: timestamp→long is the CH DateTime numeric value). */
  private def seqTs(ts: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      ts, org.apache.spark.sql.types.LongType, Some("UTC"),
      org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)

  private val base: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("siphash64"), info("siphash64"), SipHash64Expr.builder),
    // transparent CH-type annotation for toTypeName (erases to its
    // child after analysis; planted by the dialect's typed CASTs)
    (FunctionIdentifier("ch_type_tag"), info("ch_type_tag"), {
      case Seq(e, Literal(s: org.apache.spark.unsafe.types.UTF8String, _)) =>
        graft.functions.ChTypeTag(e, s.toString)
      case other => throw new IllegalArgumentException(
        s"ch_type_tag(expr, 'TypeName' literal) expected, got $other")
    }),
    // runtime enum CAST: the entry list parks in ChSql.enumCastDefs
    // (arbitrary quoting can't ride in SQL text)
    (FunctionIdentifier("ch_enum_cast"), info("ch_enum_cast"), {
      case Seq(e, Literal(id: Integer, _)) =>
        val (bits, body) = graft.sql.ChSql.enumCastDefs(id.intValue)
        graft.functions.ChEnumCast(e, bits, body)
      case other => throw new IllegalArgumentException(
        s"ch_enum_cast(expr, id literal) expected, got $other")
    }),
    (FunctionIdentifier("uniq_upto"), info("uniq_upto"), {
      case Seq(e, Literal(n: Int, _)) => UniqUpTo(e, n)
      case other => throw new IllegalArgumentException(
        s"uniq_upto(expr, N literal) expected, got $other")
    }),
    (FunctionIdentifier("any_heavy"), info("any_heavy"), {
      case Seq(e) => AnyHeavy(e)
      case other => throw new IllegalArgumentException(
        s"any_heavy(expr) expected, got $other")
    }),
    // -State / -Merge combinators (first-class aggregate state)
    (FunctionIdentifier("uniq_upto_state"), info("uniq_upto_state"), {
      case Seq(e, Literal(n: Int, _)) => UniqUpToState(e, n)
      case other => throw new IllegalArgumentException(
        s"uniq_upto_state(expr, N literal) expected, got $other")
    }),
    (FunctionIdentifier("uniq_upto_merge"), info("uniq_upto_merge"), {
      case Seq(e, Literal(n: Int, _)) => UniqUpToMerge(e, n)
      case other => throw new IllegalArgumentException(
        s"uniq_upto_merge(expr, N literal) expected, got $other")
    }),
    (FunctionIdentifier("quantile_timing"), info("quantile_timing"), {
      case Seq(e, l) if l.foldable =>
        val level = org.apache.spark.sql.catalyst.expressions.Cast(
          l, org.apache.spark.sql.types.DoubleType).eval(null)
        QuantileTiming(e, level.asInstanceOf[Double])
      case other => throw new IllegalArgumentException(
        s"quantile_timing(expr, level literal) expected, got $other")
    }),
    (FunctionIdentifier("quantile_exact_weighted"), info("quantile_exact_weighted"), {
      case Seq(v, w, l) if l.foldable =>
        val level = org.apache.spark.sql.catalyst.expressions.Cast(
          l, org.apache.spark.sql.types.DoubleType).eval(null)
        graft.functions.QuantileExactWeighted(v, w, level.asInstanceOf[Double])
      case other => throw new IllegalArgumentException(
        s"quantile_exact_weighted(value, weight, level literal) expected, got $other")
    }),
    (FunctionIdentifier("quantile_timing_weighted"), info("quantile_timing_weighted"), {
      case Seq(v, w, l) if l.foldable =>
        val level = org.apache.spark.sql.catalyst.expressions.Cast(
          l, org.apache.spark.sql.types.DoubleType).eval(null)
        graft.functions.QuantileTimingWeighted(v, w, level.asInstanceOf[Double])
      case other => throw new IllegalArgumentException(
        s"quantile_timing_weighted(ms, weight, level literal) expected, got $other")
    }),
    (FunctionIdentifier("quantile_deterministic"), info("quantile_deterministic"), {
      case Seq(v, d, l) if l.foldable =>
        val level = org.apache.spark.sql.catalyst.expressions.Cast(
          l, org.apache.spark.sql.types.DoubleType).eval(null)
        graft.functions.QuantileDeterministic(v, d, level.asInstanceOf[Double])
      case other => throw new IllegalArgumentException(
        s"quantile_deterministic(value, determinator, level literal) expected, got $other")
    }),
    (FunctionIdentifier("quantile_tdigest"), info("quantile_tdigest"), {
      case Seq(e, l) if l.foldable =>
        val level = org.apache.spark.sql.catalyst.expressions.Cast(
          l, org.apache.spark.sql.types.DoubleType).eval(null)
        QuantileTDigest(e, level.asInstanceOf[Double])
      case other => throw new IllegalArgumentException(
        s"quantile_tdigest(expr, level literal) expected, got $other")
    }),
    // per-document text/sketch kernels (TextKernels.scala)
    (FunctionIdentifier("ngram_distinct_count"), info("ngram_distinct_count"), {
      case Seq(e, Literal(n: Int, _)) => NGramDistinctCountExpr(e, n)
      case other => throw new IllegalArgumentException(
        s"ngram_distinct_count(text, N literal) expected, got $other")
    }),
    (FunctionIdentifier("ngram_jaccard"), info("ngram_jaccard"), {
      case Seq(a, b, Literal(n: Int, _)) => NGramJaccardExpr(a, b, n)
      case other => throw new IllegalArgumentException(
        s"ngram_jaccard(a, b, N literal) expected, got $other")
    }),
    (FunctionIdentifier("ngram_containment"), info("ngram_containment"), {
      case Seq(a, b, Literal(n: Int, _)) => NGramContainmentExpr(a, b, n)
      case other => throw new IllegalArgumentException(
        s"ngram_containment(a, b, N literal) expected, got $other")
    }),
    (FunctionIdentifier("minhash_sig"), info("minhash_sig"), {
      case Seq(e, Literal(k: Int, _), Literal(n: Int, _)) => MinHashSigExpr(e, k, n)
      case other => throw new IllegalArgumentException(
        s"minhash_sig(text, K literal, N literal) expected, got $other")
    }),
    (FunctionIdentifier("simhash64"), info("simhash64"), {
      case Seq(e) => SimHashExpr(e)
      case other => throw new IllegalArgumentException(
        s"simhash64(text) expected, got $other")
    }),
    (FunctionIdentifier("hyperplane_proj"), info("hyperplane_proj"), {
      case Seq(e) => HyperplaneProjExpr(e)
      case other => throw new IllegalArgumentException(
        s"hyperplane_proj(embedding) expected, got $other")
    }),
    (FunctionIdentifier("cosine_sim"), info("cosine_sim"), {
      case Seq(a, b) => CosineSimExpr(a, b)
      case other => throw new IllegalArgumentException(
        s"cosine_sim(a, b) expected, got $other")
    }),
    (FunctionIdentifier("l2sq"), info("l2sq"), {
      case Seq(a, b) => L2SqExpr(a, b)
      case other => throw new IllegalArgumentException(
        s"l2sq(a, b) expected, got $other")
    }),
    (FunctionIdentifier("phash64"), info("phash64"), {
      case Seq(a) => PHash64Expr(a)
      case other => throw new IllegalArgumentException(
        s"phash64(features) expected, got $other")
    }),
    (FunctionIdentifier("vec_norm2"), info("vec_norm2"), {
      case Seq(a) => VecNorm2Expr(a)
      case other => throw new IllegalArgumentException(
        s"vec_norm2(a) expected, got $other")
    }),
    (FunctionIdentifier("rolling_fingerprint"), info("rolling_fingerprint"), {
      case Seq(e) => RollingFingerprintExpr(e)
      case other => throw new IllegalArgumentException(
        s"rolling_fingerprint(bytes) expected, got $other")
    }),
    (FunctionIdentifier("char_weighted_fingerprint"), info("char_weighted_fingerprint"), {
      case Seq(e) => CharWeightedFingerprintExpr(e)
      case other => throw new IllegalArgumentException(
        s"char_weighted_fingerprint(text) expected, got $other")
    }),
    (FunctionIdentifier("repetition_stats"), info("repetition_stats"), {
      case Seq(e) => RepetitionStatsExpr(e)
      case other => throw new IllegalArgumentException(
        s"repetition_stats(text) expected, got $other")
    }),
    (FunctionIdentifier("token_ngram_hashes"), info("token_ngram_hashes"), {
      case Seq(e, Literal(n: Int, _)) => TokenNgramHashesExpr(e, n)
      case other => throw new IllegalArgumentException(
        s"token_ngram_hashes(text, N literal) expected, got $other")
    }),
    (FunctionIdentifier("bpe_token_count"), info("bpe_token_count"), {
      case Seq(e, s) if s.foldable &&
          s.dataType == org.apache.spark.sql.types.StringType =>
        BpeTokenCountExpr(e, s.eval(null).toString)
      case other => throw new IllegalArgumentException(
        s"bpe_token_count(text, mergeSpec literal) expected, got $other")
    }),
    (FunctionIdentifier("bpe_encode"), info("bpe_encode"), {
      case Seq(e, s) if s.foldable &&
          s.dataType == org.apache.spark.sql.types.StringType =>
        BpeEncodeExpr(e, s.eval(null).toString)
      case other => throw new IllegalArgumentException(
        s"bpe_encode(text, mergeSpec literal) expected, got $other")
    }),
    (FunctionIdentifier("bloom_contains_any"), info("bloom_contains_any"), {
      case Seq(e, b) if b.foldable &&
          b.dataType == org.apache.spark.sql.types.BinaryType =>
        BloomContainsAnyExpr(e, b.eval(null).asInstanceOf[Array[Byte]])
      case other => throw new IllegalArgumentException(
        s"bloom_contains_any(array<long>, bloomBytes literal) expected, got $other")
    }),
    // sequenceMatch('pat')(ts, cond…) — full pattern DSL including
    // (?t<=N) time conditions (AggregateFunctionSequenceMatch.h)
    (FunctionIdentifier("sequence_match"), info("sequence_match"), {
      case pat +: ts +: conds if pat.foldable && conds.nonEmpty =>
        graft.functions.SequenceMatchAgg(
          pat.eval(null).toString, seqTs(ts), conds)
      case other => throw new IllegalArgumentException(
        s"sequence_match('pattern', ts, cond1, …) expected, got $other")
    }),
    (FunctionIdentifier("sequence_count"), info("sequence_count"), {
      case pat +: ts +: conds if pat.foldable && conds.nonEmpty =>
        graft.functions.SequenceCountAgg(
          pat.eval(null).toString, seqTs(ts), conds)
      case other => throw new IllegalArgumentException(
        s"sequence_count('pattern', ts, cond1, …) expected, got $other")
    }),
    // ORDER BY x COLLATE 'loc' → sort on a memcmp-able collation key
    (FunctionIdentifier("ch_collation_key"), info("ch_collation_key"), {
      case Seq(e, Literal(loc: org.apache.spark.unsafe.types.UTF8String, _)) =>
        graft.functions.ChCollationKey(e, loc.toString)
      case other => throw new IllegalArgumentException(
        s"ch_collation_key(expr, 'locale' literal) expected, got $other")
    }))

  // hash family (FunctionsHashing.h) + coding family
  // (FunctionsCoding.h) — single-arg kernels; the CH camelCase names
  // (cityHash64, intHash32, halfMD5, URLHash) resolve to these via
  // the registry's case-insensitivity
  // cityHash64/farmHash64/metroHash64 are variadic over arbitrary
  // types (FunctionNeighbourhoodHash64): single string keeps the
  // codegen'd kernel; anything else goes to ChMultiHash64
  private val neighbourhoodFns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq("cityhash64" -> "city", "farmhash64" -> "farm", "metrohash64" -> "metro")
      .map { case (k, impl) =>
        (FunctionIdentifier(k), info(k), { (args: Seq[Expression]) =>
          args match {
            case Seq(e) if !e.resolved ||
                e.dataType == org.apache.spark.sql.types.StringType ||
                e.dataType == org.apache.spark.sql.types.BinaryType =>
              graft.functions.KernelExpr(e, k)
            case _ => graft.functions.ChMultiHash64(args, impl)
          }
        }: Seq[Expression] => Expression)
      }

  private val kernelFns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    // urlhash lives in ChSql.fns only — its dialect builder adds the
    // URLHash(url, level) hierarchy variant on top of the kernel, and
    // a second registration here would fight it for the name
    Seq("inthash32", "inthash64", "halfmd5",
      "siphash128",
      "unhex_ch", "bitmask_to_array", "bitmask_to_list",
      "extract_url_parameter_names", "url_path_hierarchy",
      "ipv6_num_to_string", "ipv6_string_to_num", "ipv4_to_ipv6",
      "uuid_num_to_string", "uuid_string_to_num", "to_string_cut_to_zero",
      "normalize_for_dedup")
      .map(k => (FunctionIdentifier(k), info(k), graft.functions.KernelExpr.builder(k)))

  // reinterpretAs* (FunctionsReinterpret.h) — registered under the CH
  // camelCase names (the registry lower-cases identifiers, so
  // `reinterpretAsUInt8(...)` in SQL resolves here)
  private val reinterpretFns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq("UInt8", "UInt16", "UInt32", "UInt64",
      "Int8", "Int16", "Int32", "Int64",
      "Float32", "Float64", "Date", "DateTime", "String")
      .map { suffix =>
        val chName = s"reinterpretAs$suffix"
        val kernel = "reinterpret_as_" + suffix.toLowerCase
        (FunctionIdentifier(chName), info(chName),
          graft.functions.KernelExpr.builder(kernel))
      }

  // embedded region dictionary (FunctionsEmbeddedDictionaries.cpp:9-11)
  // + the hierarchy forms of the external-dict API
  // (FunctionsExternalDictionaries: dictGetHierarchy, dictIsIn — the
  // 'regions' dictionary is the built-in hierarchy here)
  private val regionFns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import graft.functions.{RegionDict, RegionHierarchyExpr, RegionInExpr, RegionToTypeExpr}
    def toType(name: String, t: Int): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name), info(name), {
        case Seq(e) => RegionToTypeExpr(e, t)
        case other => throw new IllegalArgumentException(s"$name(id) expected, got $other")
      })
    Seq(
      toType("regionToCity", RegionDict.City),
      toType("regionToArea", RegionDict.Area),
      toType("regionToDistrict", RegionDict.District),
      toType("regionToCountry", RegionDict.Country),
      toType("regionToContinent", RegionDict.Continent),
      (FunctionIdentifier("regionHierarchy"), info("regionHierarchy"), {
        case Seq(e) => RegionHierarchyExpr(e)
        case other => throw new IllegalArgumentException(s"regionHierarchy(id) expected, got $other")
      }),
      (FunctionIdentifier("regionIn"), info("regionIn"), {
        case Seq(l, r) => RegionInExpr(l, r)
        case other => throw new IllegalArgumentException(s"regionIn(child, ancestor) expected, got $other")
      }),
      (FunctionIdentifier("dictGetHierarchy"), info("dictGetHierarchy"), {
        case Seq(Literal(_, _), e) => RegionHierarchyExpr(e)
        case other => throw new IllegalArgumentException(
          s"dictGetHierarchy('regions', id) expected, got $other")
      }),
      (FunctionIdentifier("dictIsIn"), info("dictIsIn"), {
        case Seq(Literal(_, _), l, r) => RegionInExpr(l, r)
        case other => throw new IllegalArgumentException(
          s"dictIsIn('regions', child, ancestor) expected, got $other")
      }))
  }

  // dictGetT('name', 'attr', id, date) over registered range_hashed
  // dictionaries (FunctionsExternalDictionaries.h 4-arg range form;
  // layout = RangeHashedDictionary). Both 64-bit spellings share the
  // Long-valued lookup; narrower integer getters cast on top.
  private val rangeDictFns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    // dictGetUInt32 stays Long-valued: UInt32 spans 0..2^32-1, beyond
    // Int.MaxValue (the reference returns the full unsigned range);
    // UInt16/UInt8 fit in Int, so only they share the narrow cast
    Seq("dictGetInt64" -> false, "dictGetUInt64" -> false,
      "dictGetInt32" -> true, "dictGetUInt32" -> false,
      "dictGetInt16" -> true, "dictGetUInt16" -> true,
      "dictGetInt8" -> true, "dictGetUInt8" -> true)
      .map { case (fname, narrow) =>
        (FunctionIdentifier(fname), info(fname), { (args: Seq[Expression]) =>
          args match {
            case Seq(
                Literal(n: org.apache.spark.unsafe.types.UTF8String, _),
                Literal(a: org.apache.spark.unsafe.types.UTF8String, _),
                id, date) =>
              val get = graft.operators.RangeHashedDict.sqlDictGet(
                n.toString, a.toString, id, date)
              if (narrow) org.apache.spark.sql.catalyst.expressions.Cast(
                get, org.apache.spark.sql.types.IntegerType)
              else get
            // 3-arg form: complex_key_hashed probe with a tuple key
            // (FunctionsExternalDictionaries.h dispatches the same
            // names across layouts on the key shape)
            case Seq(
                Literal(n: org.apache.spark.unsafe.types.UTF8String, _),
                Literal(a: org.apache.spark.unsafe.types.UTF8String, _),
                key) =>
              val get = graft.operators.ComplexKeyHashedDict.sqlDictGet(
                n.toString, a.toString, key)
              if (narrow) org.apache.spark.sql.catalyst.expressions.Cast(
                get, org.apache.spark.sql.types.IntegerType)
              else get
            case other => throw new IllegalArgumentException(
              s"$fname('dict', 'attr', key[, date]) expected, got $other")
          }
        }: Seq[Expression] => Expression)
      } :+ {
      // string attributes resolve only through the complex-key layout
      // (flat/hashed string getters ride the RegionDict surface)
      (FunctionIdentifier("dictGetString"), info("dictGetString"),
        { (args: Seq[Expression]) =>
          args match {
            case Seq(
                Literal(n: org.apache.spark.unsafe.types.UTF8String, _),
                Literal(a: org.apache.spark.unsafe.types.UTF8String, _),
                key) =>
              graft.operators.ComplexKeyHashedDict.sqlDictGet(
                n.toString, a.toString, key)
            case other => throw new IllegalArgumentException(
              s"dictGetString('dict', 'attr', tuple(k…)) expected, got $other")
          }
        }: Seq[Expression] => Expression)
    }

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    base ++ kernelFns ++ neighbourhoodFns ++ reinterpretFns ++ regionFns ++
      rangeDictFns

  /** Idempotent registration into an existing session — skip names
    * already registered by us (a blind re-register logs a "replaced a
    * previously registered function" warning per name per call). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    descriptors.foreach { case (ident, inf, builder) =>
      if (!reg.lookupFunction(ident)
          .exists(_.getClassName == classOf[GraftExtensions].getName))
        reg.registerFunction(ident, inf, builder)
    }
  }
}
