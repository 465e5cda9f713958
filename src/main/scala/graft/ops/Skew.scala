package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins on hot keys.
  *
  * When a join key's distribution is heavily skewed (one product in 30%
  * of lines), the shuffle partition holding the hot key becomes the
  * straggler. Salting splits each hot key into `salts` sub-keys: the
  * fact side gets a random-but-deterministic salt from its row identity,
  * the dimension side is replicated once per salt value, and the join
  * runs on (key, salt) — same result set, `salts`× the parallelism on
  * the hot key at the cost of replicating the (small) dimension side.
  *
  * AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
  * on by default) handles sort-merge skew at runtime; explicit salting
  * remains the tool for skewed *aggregations* and for joins where the
  * dim side must broadcast anyway.
  */
object Skew {

  // withColumn/drop/col resolve case-INsensitively under the default
  // spark.sql.caseSensitive=false, so the reserved-name guards must
  // compare the same way — a user column named __Salt would otherwise
  // pass the guard and then be silently REPLACED by the generated salt
  private def hasColIgnoreCase(df: DataFrame, name: String): Boolean =
    df.columns.exists(_.equalsIgnoreCase(name))

  /** Equi-join `fact ⋈ dim` on `key`, salted `salts` ways. The salt is
    * derived by hashing the fact row's own key + partition-stable id —
    * uniform enough to split hot keys, and irrelevant to the result
    * (every fact row still meets its dim row exactly once). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame =
    saltedJoin(fact, dim, Seq(key), salts)

  /** The general form (r18): COMPOSITE equi-keys and FACT-PRESERVING
    * outer joins, same algebra. Every fact row gets exactly ONE salt
    * (hash of its full key tuple + partition-stable id), the dim side
    * is replicated once per salt value, and the join runs on
    * (keys..., __salt):
    *
    *  - composite keys change nothing in the algebra — the salt hash
    *    just takes the whole tuple, and each qualifying (fact, dim)
    *    pair still meets exactly once;
    *  - `left`/`left_outer` is safe because the PRESERVED side is the
    *    salted fact: an unmatched fact row (no key match, or a NULL
    *    key — NULL fails the key equality in both forms) is preserved
    *    exactly once, carrying its single salt; a matched one meets
    *    each matching dim row in exactly one replica. The dim side is
    *    the non-preserved side, where replication is invisible — an
    *    unmatched dim row produces nothing in a left join anyway.
    *    Replicating a PRESERVED side would emit `salts` copies of
    *    every null-extended row, which is why `right`/`full` are
    *    rejected: flip the arguments and use `left` instead.
    *
    * Measured r18 for both shapes at ×80 (75%-hot fact, 32-way; see
    * docs/BENCH_NOTES.md "r18: SaltJoinRule scope extension"):
    * same ~2× win over plain SMJ as the single-key inner case — the
    * shuffle mechanics don't care how many key columns or whether
    * unmatched rows are preserved. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "at least one join key is required")
    // salts=0 would make the fact salt pmod(_, 0) = NULL and the dim
    // replication sequence(0, -1) — a join that silently matches
    // nothing (inner: empty; left: all null-extended)
    require(salts >= 1, s"salts must be at least 1, got $salts")
    require(Set("inner", "left", "leftouter")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"joinType '$joinType' is not fact-preserving-safe: only inner and " +
        "left(_outer) keep every preserved row on the salted side — for a " +
        "right join, flip the arguments and use 'left'")
    require(!hasColIgnoreCase(fact, "__salt") && !hasColIgnoreCase(dim, "__salt"),
      "input already carries a __salt column (any case) — withColumn " +
        "would silently replace it")
    val saltedFact = fact.withColumn(
      "__salt",
      pmod(hash(keys.map(col) :+ monotonically_increasing_id(): _*), lit(salts)))
    val replicatedDim = dim.withColumn(
      "__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedFact
      .join(replicatedDim, keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** Derive the salt fan-out from the MANIFEST skew statistic instead
    * of a caller guess (r16 — the move that turns the frequency
    * histogram from planner-advisory into engine-actionable, as the
    * NDV statistic already drives join reordering): the straggler is
    * the shuffle slot holding the hottest key, so size the split to
    * bring that key's mass down to `targetRowsPerSlot` —
    * `ceil(hottestCount / target)`, clamped to [1, maxSalts] (each
    * salt replicates the dim side once; past ~maxSalts the
    * replication cost dominates what straggler relief buys).
    * `counts` are the frequency map's counts — either value arm of
    * `Manifest.histMerged` / `shistMerged` or a
    * `CALL graft.system.histogram` result; the values themselves are
    * irrelevant here. None / empty (undeclared, or overflowed past
    * the caps — exactly the high-cardinality case where no single key
    * can be hot) falls back to `fallback`, the caller constant that
    * was the only option before the statistic existed. At 100 TB this
    * reads O(cap) manifest entries where the alternative is a full
    * GROUP-BY pass over the fact table — or a guessed constant that
    * under-splits (straggler survives) or over-splits (dim replicated
    * for nothing). */
  def saltsFromHistogram(counts: Option[Array[Long]], fallback: Int,
      targetRowsPerSlot: Long, maxSalts: Int = 64): Int = {
    require(targetRowsPerSlot > 0, "targetRowsPerSlot must be positive")
    counts.filter(_.nonEmpty) match {
      case Some(cs) =>
        val hot = cs.max
        math.max(1, math.min(maxSalts.toLong,
          (hot + targetRowsPerSlot - 1) / targetRowsPerSlot).toInt)
      case None => fallback
    }
  }

  /** The per-column derived fan-outs for every DECLARED column of a
    * (possibly composite) join key — the r18 composite bound shared by
    * [[graft.plans.SaltJoinRule]] and the `CALL graft.system.salts`
    * SQL face, so the planner and the face can never drift:
    * count(k1=a ∧ ... ∧ kn=z) ≤ min_i count(ki=vi), so the MINIMUM of
    * these per-column derivations bounds the composite hot mass. A
    * declared-but-not-hot column derives 1 (a veto, not an unknown);
    * an undeclared/overflowed column contributes no bound; empty =
    * no statistic at all (the caller falls back). */
  def compositeSaltBounds(m: graft.sources.segment.Manifest,
      keys: Seq[String], targetRowsPerSlot: Long,
      maxSalts: Int = 64): Seq[Int] =
    // filter(_.nonEmpty): a present-but-EMPTY counts array is the
    // overflow poison — an UNKNOWN (no bound), which must not read as
    // the not-hot veto a genuine 1-derivation means
    keys.flatMap(k => mapCounts(m, k).filter(_.nonEmpty).map(c =>
      saltsFromHistogram(Some(c), fallback = 1, targetRowsPerSlot, maxSalts)))

  /** The counts of a manifest's merged frequency map for `key` — both
    * value arms (only counts matter here); None when undeclared or
    * overflowed. ONE resolution shared by [[saltsForTable]] and the
    * `CALL graft.system.salts` SQL face. */
  def mapCounts(m: graft.sources.segment.Manifest,
      key: String): Option[Array[Long]] =
    mapEntries(m, key).map(_.map(_._2).toArray)

  /** The (value, count) entries of a manifest's merged frequency map
    * for `key` — long arm first (matching [[mapCounts]]), values
    * rendered as strings; None when undeclared or overflowed. The ONE
    * arm resolution shared by [[mapCounts]]/[[saltsForTable]], the
    * `CALL graft.system.salts` face, and `CALL mixture_rates` (the
    * join_estimate procedure keeps its own TYPED arms deliberately:
    * rendering to strings there would let a long 7 match a string
    * "7" across arms, breaking same-arm-only matching). */
  def mapEntries(m: graft.sources.segment.Manifest,
      key: String): Option[Seq[(String, Long)]] = {
    import graft.sources.segment.SegmentHistogram
    m.histMerged.get(key).map(SegmentHistogram.decode(_).toSeq
        .map { case (v, n) => v.toString -> n })
      .orElse(m.shistMerged.get(key).map(SegmentHistogram.decodeStr(_).toSeq
        .map { case (v, n) => v.toString -> n }))
  }

  /** Two-phase salted aggregation for hot GROUP-BY keys (r17 — the
    * aggregation face of the skew statistic; joins got theirs in
    * [[saltedJoin]]): phase 1 aggregates on (key, __salt) — the hot
    * key's rows split `salts` ways — phase 2 merges the partials on
    * the key alone. Result ≡ `df.groupBy(key).agg(...)` for
    * sum/count/min/max because each is decomposed into its exact
    * partial/merge algebra (sum→sum, count→sum, min/max→min/max);
    * avg is sumΣ/countΣ with the division deferred to the merge —
    * never an average of averages, and see the contract note below
    * for how that relates to builtin avg.
    *
    * HONESTY NOTE on when this pays: Spark's hash aggregation already
    * does map-side partial aggregation, so for these scalar
    * aggregates a hot key contributes at most one row per input
    * partition to its shuffle slot and plain groupBy is usually fine.
    * The two-phase split matters when partial aggregation is
    * ineffective or its state is heavy: re-aggregation AFTER another
    * shuffle has collapsed partitions (the reducer-side straggler),
    * `spark.sql.aggregate.partialaggregate` disabled shapes, or as
    * the building block for distinct-like states —
    * [[saltedCountDistinct]] is the form that genuinely removes a
    * 100 TB straggler (per-source distinct URLs over crawl data,
    * where one source is 75% of the corpus and its value set
    * overflows a single slot's hash map). Derive `salts` from the
    * manifest frequency map ([[saltsForTable]]) — the same zero-scan
    * statistic the salted join reads.
    *
    * `aggs` entries are (fn, inputCol, outName) with fn in
    * sum | count | min | max | avg; inputCol "*" is valid ONLY under
    * count (counts rows). Output column order follows `aggs`.
    *
    * avg's contract is exact-sum-over-exact-count — `sum(x)/count(x)`
    * with ONE double division at the merge. For integral inputs this
    * is the order-independent exact form; Spark's builtin `avg(long)`
    * instead accumulates an incremental DOUBLE partial sum, so past
    * 2^53 of accumulated mass (or under different add orders) the two
    * can differ in final ULPs — this form is the reproducible one.
    * ENFORCED (r18): avg requires an exact-sum input column (integral
    * or decimal) — a floating input's partial sums are order-dependent
    * on both sides of the ≡, so the drop-in contract would silently
    * not hold. */
  def saltedAgg(df: DataFrame, key: String, salts: Int,
      aggs: Seq[(String, String, String)]): DataFrame = {
    require(salts >= 1, s"salts must be at least 1, got $salts")
    require(aggs.nonEmpty, "at least one aggregate is required")
    // reject before work (the quantiles doctrine): a pre-existing
    // __salt column would be silently replaced and then aggregated as
    // the GENERATED salt; a key named like a partial would collide in
    // the stage-1 output
    require(!hasColIgnoreCase(df, "__salt"),
      "input already carries a __salt column (any case) — withColumn " +
        "would silently replace it")
    require(!key.toLowerCase.startsWith("__p"),
      s"key '$key' collides with the generated partial-column namespace (__p*)")
    val supported = Set("sum", "count", "min", "max", "avg")
    aggs.foreach { case (fn, in, _) =>
      require(supported(fn), s"unsupported aggregate '$fn' " +
        s"(supported: ${supported.toSeq.sorted.mkString(", ")})")
      require(in != "*" || fn == "count",
        s"'*' input is only meaningful under count, got $fn(*)")
      // the "result ≡ plain groupBy" contract is only EXACT when the
      // partial sums are order-independent — true for integral inputs
      // (exact long sums), false for floating ones (each add order
      // yields different final ULPs, on BOTH sides of the ≡). Reject
      // rather than silently weaken the contract (r17 verdict item 5)
      if (fn == "avg") {
        import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
        // resolve exactly as the aggregation will (col(in) handles
        // nested fields like payload.cents; schema(in) would not)
        val dt = df.select(col(in)).schema.head.dataType
        val exactSum = Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(dt) || dt.isInstanceOf[DecimalType]
        require(exactSum,
          s"avg('$in') requires an exact-sum input column (integral or " +
            s"decimal), got $dt: the exact-sum-over-exact-count merge is " +
            "order-independent only when the partial sums are exact — " +
            "floating partials differ in final ULPs per add order, which " +
            "breaks the '≡ plain groupBy' contract. Cast to long units " +
            "(e.g. cents) upstream, or request sum+count and divide with " +
            "your own tolerance.")
      } }
    val salted = df.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val partials = aggs.zipWithIndex.flatMap { case ((fn, in, _), i) =>
      fn match {
        case "sum" => Seq(sum(col(in)).as(s"__p$i"))
        case "count" =>
          Seq((if (in == "*") count(lit(1)) else count(col(in))).as(s"__p$i"))
        case "min" => Seq(min(col(in)).as(s"__p$i"))
        case "max" => Seq(max(col(in)).as(s"__p$i"))
        case "avg" => Seq(sum(col(in)).as(s"__p${i}s"),
          count(col(in)).as(s"__p${i}n"))
      }
    }
    val stage1 = salted.groupBy(col(key), col("__salt"))
      .agg(partials.head, partials.tail: _*)
    val merges = aggs.zipWithIndex.map { case ((fn, _, out), i) =>
      fn match {
        case "sum"   => sum(col(s"__p$i")).as(out)
        case "count" => sum(col(s"__p$i")).as(out)
        case "min"   => min(col(s"__p$i")).as(out)
        case "max"   => max(col(s"__p$i")).as(out)
        // exact long sum and count merged first, ONE double division
        // at the end — the operands (and therefore the IEEE result)
        // are identical to plain avg's sum/count
        case "avg"   => (sum(col(s"__p${i}s")).cast("double") /
          sum(col(s"__p${i}n"))).as(out)
      }
    }
    // group stage 2 by the stage-1 OUTPUT attribute, not the caller's
    // spelling: a nested key like payload.k surfaces from stage 1
    // under its leaf name (exactly as plain groupBy would output it)
    stage1.groupBy(stage1(stage1.columns.head))
      .agg(merges.head, merges.tail: _*)
  }

  /** Exact `count(DISTINCT value)` per key under key skew: the salt is
    * the VALUE's hash — equal values always share a salt, so the
    * per-(key, salt) distinct counts partition the key's value set
    * and phase 2 just sums them. This is the aggregation-skew case
    * that actually hurts at 100 TB: a plain count-distinct's partial
    * state for the hot key is its whole value set in one slot's hash
    * map; salting bounds every slot's state to ~1/salts of it.
    * Nulls are ignored in both phases, exactly as count(DISTINCT)
    * ignores them. */
  def saltedCountDistinct(df: DataFrame, key: String, valueCol: String,
      salts: Int, outName: String = "n_distinct"): DataFrame = {
    require(salts >= 1, s"salts must be at least 1, got $salts")
    require(!hasColIgnoreCase(df, "__salt"),
      "input already carries a __salt column (any case) — withColumn " +
        "would silently replace it")
    require(!key.toLowerCase.startsWith("__p"),
      s"key '$key' collides with the generated partial-column namespace (__p*)")
    val stage1 = df.withColumn("__salt", pmod(hash(col(valueCol)), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(count_distinct(col(valueCol)).as("__pd"))
    stage1.groupBy(stage1(stage1.columns.head)).agg(sum(col("__pd")).as(outName))
  }

  /** [[saltsFromHistogram]] reading a graft-segment table's manifest
    * directly — both the long and string arms of the merged maps
    * (only counts matter). */
  def saltsForTable(spark: org.apache.spark.sql.SparkSession, dir: String,
      key: String, fallback: Int, targetRowsPerSlot: Long,
      maxSalts: Int = 64): Int = {
    import graft.sources.segment.SegmentLog
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val counts = SegmentLog.read(fs, dir).map(SegmentLog.logicalView)
      .flatMap(mapCounts(_, key))
    saltsFromHistogram(counts, fallback, targetRowsPerSlot, maxSalts)
  }
}
