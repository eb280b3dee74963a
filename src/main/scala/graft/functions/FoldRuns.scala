package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The folds' scalar parameters must be non-null literals; checking them
  * at analysis keeps a column or a null (which would unbox to 0) from
  * reaching the task-time lazy vals. */
private object FoldArgs {
  def literals(fn: String, args: (String, Expression)*): TypeCheckResult =
    args.collectFirst {
      case (n, e) if !e.foldable => s"$fn: $n must be a literal"
      case (n, e) if e.eval() == null => s"$fn: $n must not be null"
    }.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure)
}

/** Native generator `graft_sessionize(es, gap, cap)`: gap+cap
  * sessionization of ONE user's time-sorted event list, emitted directly
  * as per-SESSION rows (sst, n_events, dur_s).
  *
  * es is array<struct<tus:bigint, event_id:bigint>> sorted ascending (the
  * caller's sort_array(collect_list(...)) — only tus drives the fold; the
  * event_id field rides along purely so the input is the same struct the
  * declarative form collected). A session ends after `gap` µs of
  * inactivity OR when the next event would start more than `cap` µs after
  * the CURRENT session's start — the true recurrence no fixed window
  * frame expresses (q_ts_session_capped's contract).
  *
  * Replaces the declarative chain
  *   aggregate(es, ..., (a, x) -> ... concat(a.out, array(...)) ...)
  *   → explode → groupBy(user, sst).agg(count, (max-min) div 1e6)
  * whose accumulator CONCAT copies the whole output array per element —
  * O(n²) struct copies per user — and whose explode fed a corpus-sized
  * re-aggregation just to re-group rows that are CONTIGUOUS RUNS
  * of the sorted input. Here the fold is one linear scan and each run
  * collapses to its (sst, count, duration) as it closes; session starts
  * strictly increase within a user, so the emitted rows are exactly the
  * former groupBy's groups (byte-parity pinned in FunctionsSpec).
  * Null/empty lists emit nothing. */
case class SessionizeFold(es: Expression, gapExpr: Expression, capExpr: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(es, gapExpr, capExpr)

  override def checkInputDataTypes(): TypeCheckResult = es.dataType match {
    case ArrayType(StructType(fs), _)
        // ADVICE r17: eval hardcodes getStruct(i, 2) — pin the field count
        if fs.length == 2 && fs.head.dataType == LongType &&
          gapExpr.dataType == LongType && capExpr.dataType == LongType =>
      FoldArgs.literals(prettyName, "gap" -> gapExpr, "cap" -> capExpr)
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_sessionize expects (array<struct<tus:bigint, _:bigint>>, bigint gap, bigint cap), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("sst", LongType, nullable = false),
    StructField("n_events", LongType, nullable = false),
    StructField("dur_s", LongType, nullable = false)))

  override def prettyName: String = "graft_sessionize"

  @transient private lazy val gapV: Long = gapExpr.eval().asInstanceOf[Long]
  @transient private lazy val capV: Long = capExpr.eval().asInstanceOf[Long]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a0 = es.eval(input)
    if (a0 == null) return Nil
    val ad = a0.asInstanceOf[ArrayData]
    val n = ad.numElements()
    if (n == 0) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var ss = ad.getStruct(0, 2).getLong(0) // current session start
    var prev = ss
    var cnt = 1L
    var i = 1
    while (i < n) {
      val t = ad.getStruct(i, 2).getLong(0)
      if (t - prev > gapV || t - ss > capV) {
        out += InternalRow(ss, cnt, (prev - ss) / 1000000L)
        ss = t; cnt = 1L
      } else cnt += 1L
      prev = t
      i += 1
    }
    out += InternalRow(ss, cnt, (prev - ss) / 1000000L)
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SessionizeFold =
    copy(es = newChildren(0), gapExpr = newChildren(1), capExpr = newChildren(2))
}

/** Native generator `graft_pack_bins(ds, C)`: greedy next-fit no-split
  * bin packing of ONE shard's (doc_id-sorted) (doc_id, tok) list,
  * emitted directly as per-BIN rows (bin, n_docs, tokens).
  *
  * ds is array<struct<doc_id:bigint, tok:bigint>> sorted ascending. A
  * document joins the open bin when fill + tok ≤ C (and the bin is
  * non-empty), else opens the next bin; oversized docs get a bin of
  * their own — exactly q_docs_pack_greedy's recurrence. Replaces the
  * O(n²)-copy aggregate/concat fold + explode + corpus-sized
  * re-aggregation (bins are contiguous runs of the sorted input, so
  * each collapses as it closes); byte-parity pinned in FunctionsSpec.
  * Null/empty lists emit nothing. */
case class PackBinsFold(ds: Expression, cExpr: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(ds, cExpr)

  override def checkInputDataTypes(): TypeCheckResult = ds.dataType match {
    case ArrayType(StructType(fs), _)
        if fs.length == 2 && fs.forall(_.dataType == LongType) &&
          cExpr.dataType == LongType =>
      FoldArgs.literals(prettyName, "C" -> cExpr)
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_pack_bins expects (array<struct<doc_id:bigint, tok:bigint>>, bigint C), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("bin", LongType, nullable = false),
    StructField("n_docs", LongType, nullable = false),
    StructField("tokens", LongType, nullable = false)))

  override def prettyName: String = "graft_pack_bins"

  @transient private lazy val cV: Long = cExpr.eval().asInstanceOf[Long]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a0 = ds.eval(input)
    if (a0 == null) return Nil
    val ad = a0.asInstanceOf[ArrayData]
    val n = ad.numElements()
    if (n == 0) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var bin = 0L
    var fill = ad.getStruct(0, 2).getLong(1)
    var docs = 1L
    var i = 1
    while (i < n) {
      val tok = ad.getStruct(i, 2).getLong(1)
      if (fill + tok <= cV) { fill += tok; docs += 1L }
      else {
        out += InternalRow(bin, docs, fill)
        bin += 1L; fill = tok; docs = 1L
      }
      i += 1
    }
    out += InternalRow(bin, docs, fill)
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PackBinsFold =
    copy(ds = newChildren(0), cExpr = newChildren(1))
}

/** Native fold `graft_rate_limit(es, cap, cost)`: token-bucket admission
  * replay over ONE user's time-sorted event list (q_ts_rate_limit's
  * recurrence) — credit starts at `cap` µs, refills 1 µs per elapsed µs
  * up to `cap`, an event is admitted iff credit ≥ `cost` (then pays
  * `cost`). Returns struct<adm:bigint, rej:bigint>; null list → null.
  *
  * Replaces the interpreted `aggregate(es, named_struct(...), ...)` HOF,
  * which re-allocated a 4-field named_struct per element (the r17 "Not
  * yet optimized" entry): the fold is one JVM linear scan with four
  * locals. Integer-parity with the declarative form pinned in
  * FunctionsSpec (same least/compare sequence, exact µs arithmetic). */
case class RateLimitFold(es: Expression, capExpr: Expression, costExpr: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(es, capExpr, costExpr)
  override def nullable: Boolean = es.nullable
  override def foldable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = es.dataType match {
    case ArrayType(StructType(fs), _)
        if fs.length == 2 && fs.head.dataType == LongType &&
          capExpr.dataType == LongType && costExpr.dataType == LongType =>
      FoldArgs.literals(prettyName, "cap" -> capExpr, "cost" -> costExpr)
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_rate_limit expects (array<struct<tus:bigint, _:bigint>>, bigint cap, bigint cost), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override def dataType: DataType = StructType(Seq(
    StructField("adm", LongType, nullable = false),
    StructField("rej", LongType, nullable = false)))

  override def prettyName: String = "graft_rate_limit"

  @transient private lazy val capV: Long = capExpr.eval().asInstanceOf[Long]
  @transient private lazy val costV: Long = costExpr.eval().asInstanceOf[Long]

  override def eval(input: InternalRow): Any = {
    val a0 = es.eval(input)
    if (a0 == null) return null
    val ad = a0.asInstanceOf[ArrayData]
    val n = ad.numElements()
    var credit = capV
    var last = -1L
    var adm = 0L
    var rej = 0L
    var i = 0
    while (i < n) {
      val t = ad.getStruct(i, 2).getLong(0)
      val refill = if (last < 0L) 0L else t - last
      val avail = math.min(capV, credit + refill)
      if (avail >= costV) { credit = avail - costV; adm += 1L }
      else { credit = avail; rej += 1L }
      last = t
      i += 1
    }
    InternalRow(adm, rej)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RateLimitFold =
    copy(es = newChildren(0), capExpr = newChildren(1), costExpr = newChildren(2))
}
