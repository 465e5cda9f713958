package graft.sources.segment

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-segment VALUE-FREQUENCY histograms — the skew statistic the
  * optimizer reads from the MANIFEST, never from a scan:
  *
  * {{{
  * CREATE TABLE graft.db.t (k BIGINT, ts TIMESTAMP)
  *   TBLPROPERTIES ('histFor' = 'k,ts')   -- or option("histFor", ...)
  * }}}
  *
  * NDV + min/max (the r13-r15 statistics) size UNIFORM columns well;
  * what they cannot see is SKEW, and at 100 TB skew is the norm, not
  * the exception (language tags, status codes, hot customer keys).
  * Under CBO an equality filter on a key with NDV=2000 estimates
  * 1/2000 of the rows — if the matched value actually covers 90% of a
  * 100 TB table, that misestimate broadcasts a ~90 TB join side and
  * the job dies. Catalyst's `FilterEstimation` consults an equi-height
  * histogram precisely for this (`computeEqualityPossibilityByHistogram`
  * / `computeComparisonPossibilityByHistogram`), and Spark 4.1's
  * `DataSourceV2Relation.transformV2Stats` (bytecode-verified)
  * converts a DSv2 `ColumnStatistics.histogram()` into those catalyst
  * bins — but the only stock producer is `ANALYZE TABLE ... FOR
  * COLUMNS`, a full scan. This sketch makes the histogram a COMMIT
  * byproduct instead: each segment's writer collects an EXACT bounded
  * frequency map of its declared columns while rows already stream
  * through the encoder, commits pre-merge the table-level map
  * ([[Manifest.histMerged]], frequency-map addition is associative),
  * and planning converts it to equi-height bins in O(distinct) — no
  * ANALYZE pass over a petabyte, statistics that are never stale.
  *
  * HONESTY CONTRACT (the NDV sketch's discipline, kept exactly):
  *  - The map is EXACT while the column's per-segment distinct count
  *    stays at or under [[MaxDistinct]] and the table-level merge at
  *    or under [[MaxDistinctMerged]]. Skewed group/filter keys — the
  *    columns histograms exist for — are low/mid-cardinality by
  *    nature, so the caps hold at ANY row scale (1024 distinct values
  *    is 1024 whether the table has 60k rows or 100 TB).
  *  - Overflow POISONS the sketch (per-segment) or drops the merge
  *    (table-level): absent beats approximate-and-unreplayable. A
  *    high-cardinality column past the cap simply reports no
  *    histogram and planning falls back to the NDV estimate — the
  *    uniform assumption is least wrong exactly when cardinality is
  *    high.
  *  - Deletion vectors over-approximate (a dv'd row's value still
  *    counts) — fine for statistics, same stance as NDV/avgLen.
  *
  * Values are canonicalized to the column's INTERNAL LONG — int-family
  * widths widen losslessly, DATE is epoch days, TIMESTAMP epoch
  * micros — so the stored map is a deterministic function of the data
  * that DuckDB replays exactly (`GROUP BY CAST(epoch_us(ts) AS
  * BIGINT)` etc.), the widen to LONG preserves every entry, and the
  * double conversion at the catalyst face matches
  * `EstimationUtils.toDouble`'s rendering of the same internal values.
  * Floating point (no stable equality classes worth counting) and
  * STRING/DECIMAL (catalyst histogram bins are doubles; strings have
  * no double, decimals no exact one) are refused at declaration time.
  */
object SegmentHistogram {
  /** Per-segment distinct cap: 16 KiB of manifest per column-segment
    * worst case, exact for every skew-shaped key. */
  val MaxDistinct = 1024
  /** Table-level merged cap (segments see disjoint slices of a
    * clustered layout, so the union legitimately exceeds one
    * segment's spread). */
  val MaxDistinctMerged = 4096
  /** Equi-height bins emitted to the optimizer — catalyst's own
    * default (`spark.sql.statistics.histogram.numBins`) is 254; 64
    * resolves skew to ~1.6% selectivity granularity at a quarter the
    * per-plan conversion work. */
  val DefaultBins = 64

  /** Soft declaration cap: a declared LONG-arm column can cost up to
    * ~21 KiB base64 per segment plus ~87 KiB in every manifest
    * version's pre-merged map (16-byte entries, both caps full); a
    * STRING-arm column up to ~104 KiB / ~415 KiB (entries are 12
    * bytes + the value, ≤76 bytes at [[MaxStringBytes]]) — manifest
    * weight every commit writes and every log read pays. Declarations
    * past this count WARN (never refuse — the caps bound each column
    * individually and skew columns are few by nature; see
    * docs/SEGMENT.md sizing guidance). */
  val SoftMaxColumns = 8

  /** Column types with an exact long canonical AND a catalyst
    * histogram face (bins are doubles; `EstimationUtils.toDouble`
    * renders these internal values as the same number). DECIMAL
    * within 18 digits rides as its UNSCALED long (exact, mergeable,
    * invariant under precision-growth widening); the stats face
    * divides by 10^scale so the bins land in the value domain
    * catalyst compares literals in. Price-point skew is the norm on
    * money columns, which is exactly what this statistic is for. */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** Types `histFor` accepts: the catalyst-face family above, plus
    * STRING (r16) — the scaladoc's own motivating skew keys (language
    * tags, status codes) ARE strings. String maps are ENGINE-LOCAL
    * statistics: exact bounded frequency maps under the same caps /
    * poison doctrine (value canonical = the string itself, ordered by
    * UTF-8 bytes — DuckDB's default binary collation and Spark's own
    * UTF8String order, which agree because UTF-8 byte order IS code
    * point order), served through `CALL graft.system.histogram /
    * quantiles / stats` and as an EXACT `distinctCount` on the DSv2
    * face. They carry NO catalyst histogram: `ColumnStat.histogram`
    * bins are doubles (Spark's own ANALYZE skips string histograms
    * for the same reason), so string skew reaches the engine's SQL
    * face and operators, not FilterEstimation — a stated limitation,
    * like the nested-field statistics'. Values longer than
    * [[MaxStringBytes]] poison the collector: skew keys are short by
    * nature, and an unbounded key domain would turn the manifest into
    * a value store. */
  def declarable(dt: DataType): Boolean =
    supported(dt) || dt == StringType

  /** Per-value byte cap of the STRING arm — one oversized value
    * poisons the segment's map (absent beats a truncated-key map that
    * no exact replay could reproduce). 64 bytes holds every language
    * tag / status code / enum-like key; prose columns are not skew
    * keys. */
  val MaxStringBytes = 64

  /** Validate a `histFor` declaration: existing, supported columns —
    * top-level or one dotted struct-field level (`meta.code`), the
    * [[SegmentNdv.parseCols]] resolution (exact top-level match wins
    * for a literal-dotted column name). */
  def parseCols(csv: String, schema: Option[StructType] = None): Set[String] = {
    val cols = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    // declaration-time only (schema present): manifest-weight guard
    if (schema.isDefined && cols.size > SoftMaxColumns)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"histFor declares ${cols.size} columns (soft cap $SoftMaxColumns): " +
          "each can add ~21KiB (string columns ~104KiB) per segment and " +
          "~87KiB (string ~415KiB) per manifest version (docs/SEGMENT.md); " +
          "declare only genuinely skew-prone keys")
    schema.foreach(sc => cols.foreach { c =>
      val dt: DataType = SegmentCodec.resolveStatsColumn(sc, c).getOrElse(
        throw new IllegalArgumentException(
          s"histFor column $c not in schema (top-level or struct field)"))
      require(declarable(dt),
        s"histFor column $c: frequency histograms support the integer " +
          s"family, DATE, TIMESTAMP, DECIMAL within 18 digits and STRING " +
          s"(engine-local), not ${dt.simpleString} (floats have no stable " +
          "equality classes, wider decimals no exact long canonical)")
    })
    cols
  }

  /** The long canonical of a non-null value — the internal
    * representation itself (days for DATE, micros for TIMESTAMP,
    * the unscaled long for DECIMAL), so widening int→long and
    * decimal precision growth preserve every map entry verbatim. */
  def valueOf(dt: DataType, row: InternalRow, ordinal: Int): Long = dt match {
    case ByteType => row.getByte(ordinal).toLong
    case ShortType => row.getShort(ordinal).toLong
    case IntegerType | DateType => row.getInt(ordinal).toLong
    case LongType | TimestampType | TimestampNTZType => row.getLong(ordinal)
    case d: DecimalType =>
      row.getDecimal(ordinal, d.precision, d.scale).toUnscaledLong
    case other => throw new IllegalArgumentException(
      s"no histogram canonicalization for ${other.simpleString}")
  }

  /** Bounded exact frequency collector — one per declared column per
    * write task. Overflow past [[MaxDistinct]] distinct values
    * poisons the collector: the segment carries no histogram for the
    * column, the table merge and planning drop the statistic behind
    * the every-segment presence guard, and the WRITE SUCCEEDS. */
  final class Collector {
    // BOXED values: java's get returns null for an absent key, and a
    // primitive-valued scala type parameter would silently unbox that
    // null to 0 — breaking the absent test and with it the cap
    private val freq = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    private var poisoned = false
    // run-length memo: the hot path of exactly the data this sketch
    // exists for. A skewed column repeats its hot value and a
    // clustered write streams equal keys back to back — folding a run
    // into one pending (key, count) turns the per-row TreeMap walk +
    // boxing into a primitive compare (measured ~50% → ~threshold
    // write tax on a 90%-hot column; docs/BENCH_NOTES.md "r15
    // continuation: frequency-histogram statistics")
    private var lastKey = 0L
    private var lastRun = 0L // 0 = no pending run
    private def flush(): Unit = {
      if (lastRun == 0L || poisoned) { lastRun = 0L; return }
      val prev = freq.get(lastKey)
      if (prev == null) {
        if (freq.size() == MaxDistinct) { poisoned = true; freq.clear() }
        else freq.put(lastKey, lastRun)
      } else freq.put(lastKey, prev + lastRun)
      lastRun = 0L
    }

    def add(v: Long): Unit = {
      if (poisoned) return
      if (lastRun > 0L && v == lastKey) { lastRun += 1; return }
      flush()
      lastKey = v
      lastRun = 1L
    }

    /** Base64 wire form, None when empty or poisoned. */
    def base64: Option[String] = {
      flush()
      if (poisoned || freq.isEmpty) None
      else {
        val out = new Array[(Long, Long)](freq.size())
        val it = freq.entrySet().iterator(); var i = 0
        while (it.hasNext) { val e = it.next(); out(i) = (e.getKey, e.getValue); i += 1 }
        Some(encode(out))
      }
    }
  }

  /** Bounded exact STRING frequency collector — the [[Collector]]
    * contract with the string canonical. The WIRE form is sorted by
    * `UTF8String.compareTo` (unsigned UTF-8 byte order = code point
    * order = DuckDB's default binary collation, so the stored order
    * is exactly replayable by an ORDER BY in either engine); the
    * in-memory map is UNORDERED until [[base64]] sorts it once — see
    * the field comment. Poisons past [[MaxDistinct]] distinct values
    * OR on any value longer than [[MaxStringBytes]]; the same
    * run-length memo as the long arm (skewed and clustered writes
    * stream equal keys back to back). */
  final class StringCollector {
    // HASH map on the write hot path, not a TreeMap: a lookup costs
    // one murmur over ≤64 bytes + ~one equality, where an ordered
    // walk pays ~log(distinct) byte-wise compares PER ROW on exactly
    // the no-run workloads the run-length memo cannot absorb
    // (r16: −2/3 of the string collector's tax, docs/BENCH_NOTES.md
    // "r16: string-map write tax").
    // Byte order is restored by ONE sort of ≤[[MaxDistinct]] entries
    // at flush time. Boxed values — see [[Collector.freq]].
    private val freq = new java.util.HashMap[UTF8String, java.lang.Long]()
    private var poisoned = false
    private var lastKey: UTF8String = _
    private var lastRun = 0L // 0 = no pending run
    private def flush(): Unit = {
      if (lastRun == 0L || poisoned) { lastRun = 0L; return }
      val prev = freq.get(lastKey)
      if (prev == null) {
        if (freq.size() == MaxDistinct) { poisoned = true; freq.clear() }
        else freq.put(lastKey, lastRun)
      } else freq.put(lastKey, prev + lastRun)
      lastRun = 0L
    }

    def add(v: UTF8String): Unit = {
      if (poisoned) return
      if (v.numBytes() > MaxStringBytes) {
        poisoned = true; freq.clear(); lastRun = 0L; return
      }
      if (lastRun > 0L && v == lastKey) { lastRun += 1; return }
      flush()
      // clone: the incoming UTF8String aliases the row's buffer
      lastKey = v.clone()
      lastRun = 1L
    }

    /** Base64 wire form (byte-order sorted), None when empty or
      * poisoned. */
    def base64: Option[String] = {
      flush()
      if (poisoned || freq.isEmpty) None
      else {
        val out = new Array[(UTF8String, Long)](freq.size())
        val it = freq.entrySet().iterator(); var i = 0
        while (it.hasNext) { val e = it.next(); out(i) = (e.getKey, e.getValue); i += 1 }
        java.util.Arrays.sort(out,
          Ordering.by[(UTF8String, Long), UTF8String](_._1))
        Some(encodeStr(out))
      }
    }
  }

  /** Encode a byte-order-sorted string frequency map as base64 of
    * (4-byte length, UTF-8 bytes, 8-byte count) records — the
    * manifest wire form of the STRING arm. */
  def encodeStr(sorted: Array[(UTF8String, Long)]): String = {
    val bytes = sorted.map(_._1.numBytes()).sum
    val bb = java.nio.ByteBuffer.allocate(sorted.length * 12 + bytes)
    sorted.foreach { case (v, c) =>
      val b = v.getBytes
      bb.putInt(b.length); bb.put(b); bb.putLong(c)
    }
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def decodeStr(b64: String): Array[(UTF8String, Long)] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[(UTF8String, Long)]
    while (bb.hasRemaining) {
      val len = bb.getInt()
      val v = new Array[Byte](len)
      bb.get(v)
      out += ((UTF8String.fromBytes(v), bb.getLong()))
    }
    out.toArray
  }

  /** [[merge]] for the STRING arm: byte-order sorted, None past
    * [[MaxDistinctMerged]], bails at the cap. */
  def mergeStr(maps: IterableOnce[Array[(UTF8String, Long)]])
      : Option[Array[(UTF8String, Long)]] = {
    val acc = new java.util.TreeMap[UTF8String, java.lang.Long]()
    val it = maps.iterator
    while (it.hasNext) {
      val arr = it.next()
      var i = 0
      while (i < arr.length) {
        val (v, c) = arr(i)
        val prev = acc.get(v)
        if (prev == null) {
          if (acc.size() == MaxDistinctMerged) return None
          acc.put(v, c)
        } else acc.put(v, prev + c)
        i += 1
      }
    }
    val out = new Array[(UTF8String, Long)](acc.size())
    val eit = acc.entrySet().iterator(); var i = 0
    while (eit.hasNext) { val e = eit.next(); out(i) = (e.getKey, e.getValue); i += 1 }
    Some(out)
  }

  /** Encode a value-sorted frequency map as base64 of (8-byte value,
    * 8-byte count) big-endian pairs — the manifest wire form of both
    * per-segment and table-level maps. */
  def encode(sorted: Array[(Long, Long)]): String = {
    val bb = java.nio.ByteBuffer.allocate(sorted.length * 16)
    sorted.foreach { case (v, c) => bb.putLong(v); bb.putLong(c) }
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def decode(b64: String): Array[(Long, Long)] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 16)((bb.getLong(), bb.getLong()))
  }

  /** Merge per-segment maps into the table-level map (value-sorted);
    * None past [[MaxDistinctMerged]] distinct values — the merge
    * BAILS at the cap instead of building an unbounded map first, so
    * a high-cardinality fallback probe costs O(cap), not O(distinct).
    * Frequency-map addition is associative and commutative, so
    * merging per-segment maps loses nothing vs mapping the
    * concatenated data. */
  def merge(maps: IterableOnce[Array[(Long, Long)]]): Option[Array[(Long, Long)]] = {
    // boxed values — see [[Collector.freq]]
    val acc = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    val it = maps.iterator
    while (it.hasNext) {
      val arr = it.next()
      var i = 0
      while (i < arr.length) {
        val (v, c) = arr(i)
        val prev = acc.get(v)
        if (prev == null) {
          if (acc.size() == MaxDistinctMerged) return None
          acc.put(v, c)
        } else acc.put(v, prev + c)
        i += 1
      }
    }
    val out = new Array[(Long, Long)](acc.size())
    val eit = acc.entrySet().iterator(); var i = 0
    while (eit.hasNext) { val e = eit.next(); out(i) = (e.getKey, e.getValue); i += 1 }
    Some(out)
  }

  /** Discrete quantile of an exact frequency map: the value at the
    * 1-based row index ceil(q × N) in value order — the one
    * lower-discrete quantile rule, implemented identically by the
    * DuckDB oracle as a windowed cumulative sum over the source rows,
    * so `CALL graft.system.quantiles` is METADATA-ONLY (zero scans at
    * any table size) yet exactly replayable. Deterministic by
    * construction: the map is exact within caps and the rule has no
    * interpolation or float ambiguity. */
  def quantile(freq: Array[(Long, Long)], q: Double,
      knownTotal: Long = -1L): Long = quantileOf(freq, q, knownTotal)

  /** [[quantile]] for the STRING arm — identical discrete rule over
    * the byte-ordered map (= ORDER BY under binary collation). */
  def quantileStr(freq: Array[(UTF8String, Long)], q: Double,
      knownTotal: Long = -1L): UTF8String = quantileOf(freq, q, knownTotal)

  private def quantileOf[T](freq: Array[(T, Long)], q: Double,
      knownTotal: Long): T = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    // callers asking several quantiles of one map pass the total once
    val total =
      if (knownTotal >= 0L) knownTotal else freq.foldLeft(0L)(_ + _._2)
    val target = math.max(1L, math.ceil(q * total).toLong)
    var cum = 0L
    var i = 0
    while (i < freq.length) {
      cum += freq(i)._2
      if (cum >= target) return freq(i)._1
      i += 1
    }
    freq.last._1
  }

  /** Convert an exact frequency map to catalyst's EQUI-HEIGHT shape:
    * `(height, bins(lo, hi, ndv))` with bin boundaries at the exact
    * `i/B` percentiles — consecutive bins share endpoints, and a
    * heavy value OCCUPIES every bin whose percentile range it covers
    * (lo == hi == value), which is exactly the shape
    * `FilterEstimation` reads skew from (an equality on that value
    * estimates bins-held/total ≈ its true frequency; a rare value in
    * a many-distinct bin estimates 1/binNdv of one bin). ndv per bin
    * counts distinct values in (prevBoundary, boundary] exactly —
    * the frequency map is exact by contract — floored at 1 for bins
    * interior to a heavy value.
    *
    * `render` maps a bound's LONG canonical into the double domain the
    * consumer compares literals in — identity (`toDouble`) for the
    * integer family, but DECIMAL bounds must go through
    * `Decimal(unscaled, precision, scale).toDouble` (the SAME
    * rendering `EstimationUtils.toDouble` applies to the min/max
    * literals), not `unscaled / 10^scale` double division, which can
    * differ by 1 ULP and push a literal exactly on a bin edge outside
    * its bin. */
  def toEquiHeight(freq: Array[(Long, Long)],
      maxBins: Int = DefaultBins,
      render: Long => Double = _.toDouble): (Double, Array[(Double, Double, Long)]) = {
    require(freq.nonEmpty, "empty frequency map has no histogram")
    val total = freq.map(_._2).sum
    val b = math.max(1, math.min(maxBins, freq.length))
    val height = total.toDouble / b
    val bins = new Array[(Double, Double, Long)](b)
    var idx = 0        // index into freq
    var cum = 0L       // cumulative count through freq(idx)
    var prevBound = freq(0)._1
    var prevIdx = -1   // freq index of the previous boundary
    var bin = 0
    while (bin < b) {
      // the (1-based) row this bin's upper percentile boundary lands on
      val target =
        if (bin == b - 1) total // last bin always closes at max
        else math.ceil((bin + 1).toDouble * total / b).toLong
      while (cum < target) { cum += freq(idx)._2; idx += 1 }
      val boundIdx = idx - 1
      val bound = freq(boundIdx)._1
      // distinct values in (prevBound, bound]; bin 0 includes prevBound
      val lo = if (bin == 0) -1 else prevIdx
      val ndv = math.max(1L, (boundIdx - lo).toLong)
      bins(bin) = (render(prevBound), render(bound), ndv)
      prevBound = bound
      prevIdx = boundIdx
      bin += 1
    }
    (height, bins)
  }
}
