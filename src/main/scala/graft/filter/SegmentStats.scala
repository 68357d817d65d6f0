package graft.filter

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.functions.GraftFunctions.{metaNum, metaPyStr}
import graft.memo.MetaCodec

/** Per-key metadata statistics of ONE records segment, the basis of
  * segment-level data skipping for the filter algebra (the zone-map /
  * file-stats idea Delta and parquet row groups use, lifted to the
  * TYPED metadata domain of memo_cli.py:179-241).
  *
  * Every bound is computed with the SAME value views the compiled
  * predicate evaluates — [[graft.functions.GraftFunctions.metaPyStr]]
  * (Python str() coercion), [[graft.functions.GraftFunctions.metaNum]]
  * (numeric iff Python-number-typed), and the raw typed string's
  * 's'-prefix (exactly [[FilterAlgebra]]'s `$prefix` test) — so a
  * range test here prunes against precisely the ordering the predicate
  * would apply. String bounds compare by CODE POINT on the driver
  * (UTF-8 byte order, what Spark's UTF8String min/max produced);
  * Java's UTF-16 `compareTo` would mis-order supplementary characters
  * against U+E000..U+FFFF and break soundness.
  *
  *  - `n` rows carrying the key; a key absent from a complete key set
  *    can never satisfy ANY operator (missing key → false, P10)
  *  - `nList` list-typed values: bare equality and `$contains` match
  *    list ELEMENTS, which these stats do not range-index — any list
  *    presence disables value-range pruning for those operators
  *    (presence pruning still applies), and `nList == 0` alone prunes
  *    `$contains` (lists only, P6)
  *  - `nNum`/`numMin`/`numMax` over Python-number-typed values
  *    (int/float/bool) — the numeric side of `$gte`/`$lte` with a
  *    numeric operand (P3)
  *  - `nnsMin`/`nnsMax` — str() bounds of the NON-numeric values, the
  *    lexicographic side the same operators fall back to (P4)
  *  - `pysMin`/`pysMax` — str() bounds over ALL values, for bare
  *    equality and for string-operand compares
  *  - `nStr`/`strMin`/`strMax` — bounds of the payloads of
  *    string-TYPED scalars (raw value starts with 's', the exact
  *    isinstance(value, str) class `$prefix` accepts, P5)
  *  - `vals`/`elems` — EXACT capped dictionaries: the distinct str()
  *    renderings of the scalar values, and of the well-formed list
  *    values' ELEMENTS (the unit bare equality and `$contains` compare
  *    against, P1/P6). `Some(set)` means the set is complete for the
  *    segment, so equality prunes by membership even when value RANGES
  *    overlap across segments — the low-cardinality-dictionary case
  *    (tags, langs, sources) where min/max alone prunes nothing; `None`
  *    means the key's cardinality overflowed the cap — fall back to
  *    the range tests. A malformed list payload contributes no
  *    elements, which is exact: the compiled predicate can never match
  *    through it either.
  */
final case class KeyStats(
    n: Long, nList: Long, nNum: Long, nStr: Long,
    pysMin: String, pysMax: String,
    numMin: Option[Double], numMax: Option[Double],
    nnsMin: Option[String], nnsMax: Option[String],
    strMin: Option[String], strMax: Option[String],
    vals: Option[Set[String]] = None,
    elems: Option[Set[String]] = None)

/** Stats sidecar of one segment: row count, rows with non-empty
  * metadata (the P11 gate — a segment with none can never match any
  * filter), and per-key stats. `keysComplete = false` means the
  * segment had more distinct keys than the cap, so a key MISSING from
  * `keys` is unknown rather than provably absent — but stats for the
  * keys that ARE recorded remain exact (the fold saw every row). A
  * segment with a partition past [[SegmentStats.PartitionKeyCapFactor]]
  * × the key cap records no keys at all (`keysComplete = false`). */
final case class SegmentStats(rows: Long, nMeta: Long,
    keysComplete: Boolean, keys: Map[String, KeyStats])

object SegmentStats {

  /** Key-set cap DEFAULT. Metadata domains are small in practice; a
    * segment whose rows fan out past this many distinct keys keeps the
    * largest keys' stats and marks the set incomplete rather than
    * growing the sidecar without bound. [[compute]] takes the effective
    * cap per call (an engine option — `statsMaxKeys`); the DECODE side
    * is cap-agnostic, so segments written under different caps coexist
    * soundly in one chain (a smaller cap only drops dictionaries/keys,
    * both of which read as "can't prove — keep the segment"). */
  val MaxKeys = 64

  /** Per-key dictionary cap DEFAULT: up to this many distinct str()
    * renderings are recorded exactly (scalars and list elements
    * separately); past it the dictionary is dropped and the key falls
    * back to range pruning — which is also the right tool for the
    * high-cardinality keys that overflow it. Per-call like [[MaxKeys]]
    * (engine option `statsMaxVals`). */
  val MaxVals = 64

  // ------------------------------------------------------------- ordering

  /** Code-point comparison — identical to UTF-8 byte order, which is
    * what Spark's UTF8String comparisons (and therefore the min/max
    * bounds aggregated below AND the compiled predicate's string
    * compares) use. */
  def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }
  private def cpLe(a: String, b: String): Boolean = cpCompare(a, b) <= 0
  private def cpGe(a: String, b: String): Boolean = cpCompare(a, b) >= 0

  /** The exclusive upper bound of the prefix interval: every string
    * with prefix `p` lies in [p, successor). Drops trailing maximal
    * code points then bumps the last one; None when no finite bound
    * exists (p empty or all-maximal — every tail is unbounded). */
  def prefixSuccessor(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var end = cps.length
    while (end > 0 && cps(end - 1) == Character.MAX_CODE_POINT) end -= 1
    if (end == 0) None
    else {
      val bumped = cps.take(end)
      bumped(end - 1) += 1
      Some(new String(bumped, 0, end))
    }
  }

  // -------------------------------------------------------------- compute

  /** Per-partition key-tracking cap, as a multiple of the effective
    * `maxKeys`: it bounds every partition's fold state to
    * `PartitionKeyCapFactor × maxKeys` keys × `maxVals + 1` dictionary
    * strings per side. A partition that sees more distinct keys stops
    * tracking them, and its segment gets the degraded (sound) sidecar —
    * header counts only, `keysComplete = false`, no per-key stats. */
  val PartitionKeyCapFactor = 8

  /** Header counts, id range and per-key stats of one segment, in ONE
    * Spark job with no shuffle: a narrow projection evaluates the same
    * row-level views the compiled predicate uses ([[metaPyStr]],
    * [[metaNum]], the 'l'/'s' prefix tests, the payload substring, and
    * `from_json(payload, array<string>)` mapped through [[metaPyStr]] for
    * list elements), one row per (record, metadata entry) via
    * `posexplode_outer`; a `mapPartitions` fold feeds bounded
    * accumulators and the driver merges one accumulator per partition.
    * Bounds follow Spark's min/max orderings (code-point strings,
    * NaN-largest doubles, the first value kept on a ±0.0 tie), so the
    * stats equal those of the equivalent Catalyst aggregations (a test
    * reference pins it), and [[encode]] sorts keys and dictionaries.
    * Cost is O(segment), column-pruned to (id, metadata). */
  def compute(df: DataFrame, maxKeys: Int = MaxKeys,
      maxVals: Int = MaxVals): (Option[(Long, Long)], SegmentStats) = {
    require(maxKeys >= 1 && maxVals >= 1,
      s"stats caps must be >= 1, got (maxKeys=$maxKeys, maxVals=$maxVals)")
    val keyCap = PartitionKeyCapFactor * maxKeys
    val parts = projection(df).queryExecution.toRdd.mapPartitions { rows =>
      val acc = new PartAcc(keyCap, maxVals)
      rows.foreach(acc.add)
      Iterator.single(acc)
    }.collect()
    val total = parts.foldLeft(new PartAcc(keyCap, maxVals)) { (a, b) =>
      a.merge(b); a
    }
    val idRange = if (total.hasId) Some((total.idMin, total.idMax)) else None
    if (total.keys == null)
      (idRange, SegmentStats(total.rows, total.nMeta, keysComplete = false,
        Map.empty))
    else {
      // deterministic under the cap: most rows first, ties by key
      val ranked = total.keys.asScala.toSeq.sortWith { case ((ka, a), (kb, b)) =>
        if (a.n != b.n) a.n > b.n else cpCompare(ka, kb) < 0
      }
      (idRange, SegmentStats(total.rows, total.nMeta,
        keysComplete = ranked.length <= maxKeys,
        ranked.take(maxKeys).map { case (k, a) => k -> a.result }.toMap))
    }
  }

  /** Column ordinals of [[projection]]'s rows, read by [[PartAcc.add]]. */
  private final val ColId = 0
  private final val ColHasMeta = 1
  private final val ColFirst = 2  // first exploded row of its record
  private final val ColKey = 3    // null: the record has no entries
  private final val ColIsList = 4
  private final val ColNum = 5
  private final val ColIsStr = 6
  private final val ColPys = 7    // null iff the value is null
  private final val ColStrPayload = 8
  private final val ColElems = 9

  private def projection(df: DataFrame): DataFrame = {
    val v = col("v")
    val isList = v.startsWith("l")
    val isStr = v.startsWith("s") // the exact class $prefix accepts
    val payload = v.substr(lit(2), length(v))
    df.select(col("id"),
        coalesce(size(col("metadata")) > 0, lit(false)).as("hasMeta"),
        posexplode_outer(col("metadata")).as(Seq("pos", "k", "v")))
      .select(col("id"), col("hasMeta"),
        coalesce(col("pos"), lit(0)) === 0,
        col("k"),
        coalesce(isList, lit(false)),
        metaNum(v),
        coalesce(isStr, lit(false)),
        metaPyStr(v),
        when(isStr, payload),
        when(isList, transform(
          from_json(payload, ArrayType(StringType)), metaPyStr(_))))
  }

  /** Spark's double ordering (what min/max aggregated): NaN above every
    * number, -0.0 equal to 0.0 — so on a tie the value seen first stays. */
  private def dLess(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) < 0

  private def sMin(cur: String, x: String): String =
    if (x == null || (cur != null && cpCompare(cur, x) <= 0)) cur else x
  private def sMax(cur: String, x: String): String =
    if (x == null || (cur != null && cpCompare(cur, x) >= 0)) cur else x

  /** A distinct-string dictionary that drops itself (null) once it holds
    * more than `cap` values — the set never exceeds `cap + 1`. */
  private def dictAdd(d: java.util.HashSet[String], x: String, cap: Int)
      : java.util.HashSet[String] =
    if (d == null || !d.add(x) || d.size <= cap) d else null

  private def dictUnion(a: java.util.HashSet[String],
      b: java.util.HashSet[String], cap: Int): java.util.HashSet[String] =
    if (a == null || b == null) null
    else {
      var d = a
      val it = b.iterator()
      while (d != null && it.hasNext) d = dictAdd(d, it.next(), cap)
      d
    }

  /** Fold state of one key. */
  private final class KeyAcc(maxVals: Int) extends Serializable {
    var n, nList, nNum, nStr = 0L
    var pysMin, pysMax, nnsMin, nnsMax, strMin, strMax: String = null
    var numMin, numMax = 0.0
    var vals = new java.util.HashSet[String]()  // scalar str() renderings
    var elems = new java.util.HashSet[String]() // list elements' str()
    var elemRows = false // any list element seen

    def add(r: InternalRow): Unit = {
      n += 1
      val list = r.getBoolean(ColIsList)
      if (list) nList += 1
      val num = !r.isNullAt(ColNum)
      if (num) addNum(r.getDouble(ColNum), r.getDouble(ColNum), 1L)
      if (r.getBoolean(ColIsStr)) {
        nStr += 1
        val p = r.getUTF8String(ColStrPayload).toString
        strMin = sMin(strMin, p)
        strMax = sMax(strMax, p)
      }
      if (!r.isNullAt(ColPys)) {
        val p = r.getUTF8String(ColPys).toString
        pysMin = sMin(pysMin, p)
        pysMax = sMax(pysMax, p)
        if (!num) {
          nnsMin = sMin(nnsMin, p)
          nnsMax = sMax(nnsMax, p)
        }
        if (!list) vals = dictAdd(vals, p, maxVals)
      }
      if (list && !r.isNullAt(ColElems)) {
        val es = r.getArray(ColElems)
        var i = 0
        while (i < es.numElements()) {
          elemRows = true
          if (!es.isNullAt(i))
            elems = dictAdd(elems, es.getUTF8String(i).toString, maxVals)
          i += 1
        }
      }
    }

    private def addNum(lo: Double, hi: Double, count: Long): Unit = {
      if (nNum == 0L || dLess(lo, numMin)) numMin = lo
      if (nNum == 0L || dLess(numMax, hi)) numMax = hi
      nNum += count
    }

    /** Fold `o` (a LATER partition's state) into this one. */
    def merge(o: KeyAcc): Unit = {
      if (o.nNum > 0L) addNum(o.numMin, o.numMax, o.nNum)
      n += o.n; nList += o.nList; nStr += o.nStr
      pysMin = sMin(pysMin, o.pysMin); pysMax = sMax(pysMax, o.pysMax)
      nnsMin = sMin(nnsMin, o.nnsMin); nnsMax = sMax(nnsMax, o.nnsMax)
      strMin = sMin(strMin, o.strMin); strMax = sMax(strMax, o.strMax)
      vals = dictUnion(vals, o.vals, maxVals)
      elems = dictUnion(elems, o.elems, maxVals)
      elemRows ||= o.elemRows
    }

    def result: KeyStats = {
      def dict(d: java.util.HashSet[String]) =
        Option(d).map(_.asScala.toSet)
      KeyStats(n, nList, nNum, nStr, pysMin, pysMax,
        if (nNum > 0L) Some(numMin) else None,
        if (nNum > 0L) Some(numMax) else None,
        Option(nnsMin), Option(nnsMax), Option(strMin), Option(strMax),
        vals = dict(vals),
        // a key with no list elements has a provably EMPTY element
        // dictionary only when it has no list values at all — list
        // values without elements (empty or malformed payloads) leave it
        // unknown
        elems = if (elemRows) dict(elems)
          else if (nList == 0L) Some(Set.empty) else None)
    }
  }

  /** Fold state of one partition; `keys` turns null past `keyCap`. */
  private final class PartAcc(keyCap: Int, maxVals: Int)
      extends Serializable {
    var rows, nMeta = 0L
    var hasId = false
    var idMin, idMax = 0L
    var keys = new java.util.HashMap[String, KeyAcc]()

    def add(r: InternalRow): Unit = {
      if (r.getBoolean(ColFirst)) {
        rows += 1
        if (r.getBoolean(ColHasMeta)) nMeta += 1
        if (!r.isNullAt(ColId)) addIds(r.getLong(ColId), r.getLong(ColId))
      }
      if (keys != null && !r.isNullAt(ColKey)) {
        val k = r.getUTF8String(ColKey).toString
        var a = keys.get(k)
        if (a == null && keys.size >= keyCap) keys = null
        else {
          if (a == null) { a = new KeyAcc(maxVals); keys.put(k, a) }
          a.add(r)
        }
      }
    }

    private def addIds(lo: Long, hi: Long): Unit = {
      if (!hasId || lo < idMin) idMin = lo
      if (!hasId || hi > idMax) idMax = hi
      hasId = true
    }

    /** Fold `o` (a LATER partition's state) into this one. */
    def merge(o: PartAcc): Unit = {
      rows += o.rows
      nMeta += o.nMeta
      if (o.hasId) addIds(o.idMin, o.idMax)
      if (keys != null && o.keys == null) keys = null
      if (keys != null) o.keys.forEach { (k, oa) =>
        val a = keys.get(k)
        if (a == null) keys.put(k, oa) else a.merge(oa)
      }
    }
  }

  // ------------------------------------------------------------- canMatch

  /** Sound over-approximation of "some row of a segment with these
    * stats satisfies the compiled filter": false ONLY when no row
    * possibly can (so dropping the segment is exact), true whenever in
    * doubt. Mirrors [[FilterAlgebra.compile]] clause by clause —
    * including the P11 metadata gate and the P12 malformed-operator
    * falses, which prune EVERY segment (the predicate is constant
    * false). */
  def canMatch(filterMap: Map[String, Any], st: SegmentStats): Boolean =
    st.nMeta > 0 && canMatchMap(filterMap, st)

  private def canMatchMap(m: Map[String, Any], st: SegmentStats): Boolean =
    m.forall {
      case ("$and", l: List[_]) => l.forall {
        case mm: Map[_, _] =>
          canMatchMap(mm.asInstanceOf[Map[String, Any]], st)
        case _ => false
      }
      case ("$or", l: List[_]) => l.exists {
        case mm: Map[_, _] =>
          canMatchMap(mm.asInstanceOf[Map[String, Any]], st)
        case _ => false
      }
      case ("$and" | "$or", _) => false // malformed combinator (P12)
      case (key, cond) => condCanMatch(st, key, cond)
    }

  private def condCanMatch(st: SegmentStats, key: String, cond: Any)
      : Boolean =
    st.keys.get(key) match {
      case None =>
        // complete key set: NO row carries the key → false for every
        // operator (P10); incomplete: unknown, cannot prune
        !st.keysComplete
      case Some(ks) => cond match {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          if (mm.size != 1) false // malformed operator map (P12)
          else {
            val (op, operand) = mm.head
            op match {
              case "$ne" => neCanMatch(ks, operand)
              case "$gte" => cmpCanMatch(ks, operand, gte = true)
              case "$lte" => cmpCanMatch(ks, operand, gte = false)
              case "$prefix" => prefixCanMatch(ks, operand)
              case "$contains" => containsCanMatch(ks, operand)
              case _ => false // unknown operator (P12)
            }
          }
        case operand => eqCanMatch(ks, operand)
      }
    }

  /** Bare equality: scalars match by str() — EXACT membership when the
    * dictionary survived the cap, the str() range otherwise; a list
    * value matches on ANY element — exact membership in the element
    * dictionary when known, unprunable otherwise. */
  private def eqCanMatch(ks: KeyStats, operand: Any): Boolean = {
    val op = FilterAlgebra.operandStr(operand)
    val scalarSide = ks.n - ks.nList > 0 && (ks.vals match {
      case Some(vs) => vs.contains(op)
      case None => cpLe(ks.pysMin, op) && cpGe(ks.pysMax, op)
    })
    val listSide = ks.nList > 0 && ks.elems.forall(_.contains(op))
    scalarSide || listSide
  }

  /** $contains: lists only (P6), any element str()-equal — exact when
    * the element dictionary is known. */
  private def containsCanMatch(ks: KeyStats, operand: Any): Boolean = {
    val op = FilterAlgebra.operandStr(operand)
    ks.nList > 0 && ks.elems.forall(_.contains(op))
  }

  /** $ne matches any present value that is NOT str()-equal — prunable
    * only when every value provably equals the operand (all scalar,
    * degenerate str() range == str(op)). */
  private def neCanMatch(ks: KeyStats, operand: Any): Boolean = {
    val op = FilterAlgebra.operandStr(operand)
    ks.nList > 0 || !(ks.pysMin == op && ks.pysMax == op)
  }

  /** $gte/$lte: a numeric operand compares numerically against the
    * numeric values and lexicographically (str()) against the rest; a
    * non-numeric operand compares str() against everything. NaN floats
    * sort ABOVE every number in Spark (both in these bounds and in the
    * compiled compare), so a NaN segment BOUND is treated as +inf —
    * and symmetrically a NaN OPERAND is +inf in Spark's ordering:
    * `v <= NaN` matches every numeric value (numSide degenerates to
    * "any numeric row"), while `v >= NaN` matches only NaN values
    * (numMax.isNaN). Java double compares both sides false against
    * NaN, so without the explicit cases the mirror would prune
    * segments full of matching rows. */
  private def cmpCanMatch(ks: KeyStats, operand: Any, gte: Boolean)
      : Boolean = {
    val opStr = FilterAlgebra.operandStr(operand)
    val t = MetaCodec.encode(operand)
    if (MetaCodec.isNumeric(t)) {
      val d = MetaCodec.numValue(t)
      val numSide = ks.nNum > 0 && (
        if (gte) ks.numMax.exists(m => m.isNaN || m >= d)
        else d.isNaN || ks.numMin.exists(m => !m.isNaN && m <= d))
      val strSide = (ks.n - ks.nNum) > 0 && (
        if (gte) ks.nnsMax.exists(cpGe(_, opStr))
        else ks.nnsMin.exists(cpLe(_, opStr)))
      numSide || strSide
    } else {
      if (gte) cpGe(ks.pysMax, opStr) else cpLe(ks.pysMin, opStr)
    }
  }

  /** $prefix accepts only string-TYPED values; those with the prefix
    * form the interval [op, prefixSuccessor(op)) in code-point order. */
  private def prefixCanMatch(ks: KeyStats, operand: Any): Boolean = {
    val op = FilterAlgebra.operandStr(operand)
    ks.nStr > 0 && ks.strMax.exists(cpGe(_, op)) &&
      (prefixSuccessor(op) match {
        case Some(succ) => ks.strMin.exists(cpCompare(_, succ) < 0)
        case None => true
      })
  }

  // ---------------------------------------------------------------- codec

  // Sidecar text format (one segment = one `_metastats` file):
  //   meta2 <rows> <nMeta> <1|0 complete>
  //   <key> <n> <nList> <nNum> <nStr> <pysMin> <pysMax> <numMin>
  //         <numMax> <nnsMin> <nnsMax> <strMin> <strMax> <vals> <elems>
  // String fields are "b" + base64url(UTF-8) (so the empty string is
  // "b" and no delimiter can appear inside); absent optionals are ".".
  // Dictionary fields are "." (overflowed the cap) or "d" + the items'
  // b-encodings joined by "," ("d" alone = provably empty set).
  // meta1 (the pre-dictionary format) still decodes, with no
  // dictionaries; an unrecognized header version reads as "no sidecar"
  // so the format can keep evolving without breaking old readers.

  private def b64e(s: String): String =
    "b" + Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def b64d(s: String): String =
    new String(Base64.getUrlDecoder.decode(s.substring(1)),
      StandardCharsets.UTF_8)

  private def encOptS(o: Option[String]): String = o.fold(".")(b64e)
  private def encOptD(o: Option[Double]): String = o.fold(".")(_.toString)
  private def encDict(o: Option[Set[String]]): String =
    o.fold(".")(vs => "d" + vs.toSeq.sorted.map(b64e).mkString(","))
  private def decDict(s: String): Option[Set[String]] =
    if (s == ".") None
    else {
      require(s.startsWith("d"))
      val rest = s.substring(1)
      if (rest.isEmpty) Some(Set.empty)
      else Some(rest.split(",", -1).map(b64d).toSet)
    }

  /** A key whose every value is a null map value has no str() bounds
    * (MetaCodec never writes one, but a segment written by another tool
    * can hold it): it is dropped and the key set marked incomplete, so
    * the key reads as unknown and never prunes. */
  def encode(st: SegmentStats): String = {
    val (keys, boundless) = st.keys.partition { case (_, ks) =>
      ks.pysMin != null && ks.pysMax != null
    }
    val complete = st.keysComplete && boundless.isEmpty
    val header =
      s"meta2 ${st.rows} ${st.nMeta} ${if (complete) 1 else 0}"
    val lines = keys.toSeq.sortBy(_._1).map { case (k, s) =>
      Seq(b64e(k), s.n, s.nList, s.nNum, s.nStr,
        b64e(s.pysMin), b64e(s.pysMax),
        encOptD(s.numMin), encOptD(s.numMax),
        encOptS(s.nnsMin), encOptS(s.nnsMax),
        encOptS(s.strMin), encOptS(s.strMax),
        encDict(s.vals), encDict(s.elems)).mkString(" ")
    }
    (header +: lines).mkString("\n")
  }

  /** None on anything unparseable — the caller treats the segment as
    * unprunable, never fails a read over a stats sidecar. */
  def decode(text: String): Option[SegmentStats] =
    try {
      val lines = text.split("\n").toSeq.filter(_.nonEmpty)
      val h = lines.head.split(" ")
      if (h.length != 4 || (h(0) != "meta1" && h(0) != "meta2")) return None
      val nFields = if (h(0) == "meta1") 13 else 15
      val keys = lines.tail.map { line =>
        val f = line.split(" ")
        require(f.length == nFields)
        def optS(s: String) = if (s == ".") None else Some(b64d(s))
        def optD(s: String) = if (s == ".") None else Some(s.toDouble)
        b64d(f(0)) -> KeyStats(
          f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong,
          b64d(f(5)), b64d(f(6)),
          optD(f(7)), optD(f(8)), optS(f(9)), optS(f(10)),
          optS(f(11)), optS(f(12)),
          vals = if (nFields > 13) decDict(f(13)) else None,
          elems = if (nFields > 13) decDict(f(14)) else None)
      }.toMap
      Some(SegmentStats(h(1).toLong, h(2).toLong, h(3) == "1", keys))
    } catch { case scala.util.control.NonFatal(_) => None }
}
