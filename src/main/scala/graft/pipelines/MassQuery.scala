package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}
import graft.ops.RangeJoin
import graft.ops.Materialize.barrier

/** The row-local keep-first predicate of [[MassQuery.annotate]] as a
  * native codegen expression: for a joined (structure-mass, own-adduct,
  * own-mz, member-mz-list) row, true iff the row's (adduct-rank, mm, mz)
  * is the minimum over all in-window candidates of its dedup group. The
  * adduct table and ppm are plan-time constants embedded via
  * addReferenceObj; a null member list means the id is unduplicated and
  * only the row's own mz is considered — which is why this needs custom
  * null handling instead of nullSafeEval (and why it is not a Scala UDF:
  * a Seq[Double] UDF argument pays a per-row encoder conversion — see
  * graft.catalyst.ArrayExpressions — on the JOIN-OUTPUT-sized stream,
  * the largest intermediate of the whole pipeline). */
private[pipelines] case class MassKeepExpr(
    p: Expression, ord: Expression, mz: Expression, mzs: Expression,
    mults: Array[Double], offs: Array[Double], ppm: Double)
  extends Expression with Serializable {

  override def children: Seq[Expression] = Seq(p, ord, mz, mzs)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_mass_keep"

  def keep(pv: Double, ownOrd: Int, ownMz: Double, mzsArr: ArrayData): Boolean = {
    val nAdd = mults.length
    if (mzsArr == null) {
      // unduplicated id: the group is {own mz} × adducts and the row's own
      // candidate is always in-window (bit-identical arithmetic to the
      // join predicate), so the (ord, mm, mz)-minimum test collapses to
      // "no LOWER-priority adduct of my own mz also lands in this window"
      // (same ord ⇒ same mm and mz ⇒ it IS the own candidate; higher ord
      // never wins). This is the join-output-sized hot path — on average
      // ownOrd window tests instead of nAdd plus the full min scan.
      var o = 0
      while (o < ownOrd) {
        val mm = (ownMz - offs(o)) / mults(o)
        if (mm > 0 && pv >= mm - mm * ppm / 1e6 && pv <= mm + mm * ppm / 1e6)
          return false
        o += 1
      }
      return true
    }
    var bOrd = Int.MaxValue; var bMm = Double.MaxValue; var bMz = Double.MaxValue
    def consider(mzv: Double): Unit = {
      var o = 0
      while (o < nAdd) {
        val mm = (mzv - offs(o)) / mults(o)
        if (mm > 0 && pv >= mm - mm * ppm / 1e6 && pv <= mm + mm * ppm / 1e6 &&
            (o < bOrd || (o == bOrd &&
              (mm < bMm || (mm == bMm && mzv < bMz))))) {
          bOrd = o; bMm = mm; bMz = mzv
        }
        o += 1
      }
    }
    var i = 0
    val n = mzsArr.numElements()
    while (i < n) { consider(mzsArr.getDouble(i)); i += 1 }
    val ownMm = (ownMz - offs(ownOrd)) / mults(ownOrd)
    bOrd == ownOrd && bMm == ownMm && bMz == ownMz
  }

  override def eval(input: InternalRow): Any = {
    // null in any required child ⇒ false (drop the row), mirroring the
    // former UDF's `__mz.isNotNull` filter semantics rather than unboxing
    // null to 0/0.0; only the member list is legitimately nullable
    val pv = p.eval(input)
    val ov = ord.eval(input)
    val mv = mz.eval(input)
    if (pv == null || ov == null || mv == null) false
    else {
      val av = mzs.eval(input).asInstanceOf[ArrayData]
      keep(pv.asInstanceOf[Double], ov.asInstanceOf[Int],
        mv.asInstanceOf[Double], av)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("massKeep", this)
    val evs = children.map(_.genCode(ctx))
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    // No template line may BEGIN with '|': the code interpolator
    // margin-strips it, emitting invalid Java — the stage then silently
    // demotes to interpreted eval (janino "is not a type" in the logs).
    ev.copy(code =
      code"""
        ${evs(0).code}
        ${evs(1).code}
        ${evs(2).code}
        ${evs(3).code}
        final boolean ${ev.value} = !(${evs(0).isNull} || ${evs(1).isNull} ||
          ${evs(2).isNull}) && $ref.keep(${evs(0).value},
          ${evs(1).value}, ${evs(2).value},
          ${evs(3).isNull} ? null : ${evs(3).value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MassKeepExpr =
    copy(p = newChildren(0), ord = newChildren(1),
      mz = newChildren(2), mzs = newChildren(3))
}

/** The queryMassNPDB operator: adduct-expanded ppm structure annotation
  * with keep-first dedup per (mass id, structure) —
  * `integrative_omics/queryMassNPDB_mod.py:75-173` (adduct expansion
  * :116-125, ppm window match :127-141, dedup keep-first :144).
  *
  * An adduct is a (label, mult, offset) transform: the neutral-mass
  * hypothesis for an observed m/z is `mm = (mz - offset) / mult`, and a
  * structure matches when its mass lies within ±ppm of mm. One observed
  * mass can match the same structure under several adducts (and ids may be
  * carried by several physical rows); the reference keeps the first match
  * in adduct-priority order, then lowest mm.
  *
  * Scale design — the dedup is a ROW-LOCAL broadcast filter, not a
  * shuffle. The naive plan ends in groupBy(id, struct) over the join
  * output; with a relative ppm window nearly every (id, struct) group has
  * exactly one row, so that exchange ships the whole join output to
  * collapse almost nothing (measured at sf0.1: 11.19M keys to merge ~3k
  * groups — 10.6 s of an 11.8 s query). Instead every joined row
  * reconstructs its whole dedup group locally: the adduct list is a
  * constant, the few mz values sharing an id are broadcast as per-id
  * lists, and window membership is re-derived with BIT-IDENTICAL double
  * arithmetic to the join's residual predicate ((mz-offset)/mult,
  * tol = mm*ppm/1e6 — IEEE doubles are deterministic, so a row's own
  * window always tests true). A row survives iff its (adduct-rank, mm) is
  * the minimum over its group's matches. No join-output-sized exchange
  * remains: the only shuffles are mass-table-sized (the distinct and the
  * dup-id lists) plus the range join's own bucket exchange; the 10×
  * ScaleCheck run went from 347.6 s to 19.9 s for 1.119B output rows.
  *
  * The broadcast is guarded: the dup-id lists are usually tiny (ids
  * carried by >1 distinct mz are the exception), but an adversarial input
  * could put millions of mzs behind one id. A one-pass size probe over the
  * (already checkpointed) distinct masses counts the list elements; above
  * `maxBroadcastDupMzs` the operator splits the masses pre-join: unique
  * ids (almost all of them) keep the exchange-free kernel filter with a
  * null member list, and only dup-id rows pay the shuffle-based keep-first
  * window (rank 1 by (adduct-rank, mm, mz) per structure row) — bounded
  * state, and exactly equivalent (both paths pick the same minimum; the
  * window uses rank() so duplicated identical structure rows keep the
  * same multiplicity the row-local filter emits).
  *
  * @param masses     observed masses; `idCol` (any equality-comparable
  *                   type), `mzCol` (double). Identical (id, mz) rows are
  *                   collapsed (they would produce identical matches).
  * @param adducts    (label, mult, offset) in keep-first PRIORITY order
  * @param structures candidate structures; `structIdCol`, `massCol`
  * @param ppm        relative tolerance (×1e-6)
  * @param maxBroadcastDupMzs budget (total list elements) for the row-local
  *                   broadcast path; above it the window fallback runs
  * @return one row per kept (id, structure) match:
  *         idCol, structIdCol, adduct, mm, massCol
  */
object MassQuery {

  def annotate(masses: DataFrame, idCol: String, mzCol: String,
               adducts: Seq[(String, Double, Double)],
               structures: DataFrame, structIdCol: String, massCol: String,
               ppm: Double, maxBroadcastDupMzs: Long = 4000000L): DataFrame = {
    require(adducts.nonEmpty, "at least one adduct transform required")
    require(adducts.forall(_._2 != 0.0), "adduct mult must be nonzero")
    val spark = masses.sparkSession
    import spark.implicits._

    val mass1 = barrier(masses.select(col(idCol).as("__id"), col(mzCol).cast("double").as("__mz"))
      .where(col("__mz").isNotNull)
      .dropDuplicates("__id", "__mz"), "massQuery.mass1")
      // two consumers (adduct expansion and the dup-id lists): barrier so
      // the scan+distinct subtree executes once
    // per-id mz lists for ids carried by >1 row — the only group state the
    // row-local dedup needs; small by construction, broadcast
    val dupMz = barrier(mass1.groupBy("__id")
      .agg(collect_list(col("__mz")).as("__mzs"))
      .where(size(col("__mzs")) > 1), "massQuery.dupMz")
      // two consumers (size probe and the broadcast): compute once

    val adductDf = adducts.zipWithIndex
      .map { case ((l, m, o), i) => (l, m, o, i) }
      .toDF("adduct", "__mult", "__off", "__ord")
    def expand(m: DataFrame): DataFrame = m.crossJoin(broadcast(adductDf))
      .withColumn("__mm", (col("__mz") - col("__off")) / col("__mult"))
      .where(col("__mm") > 0)
    val structs = structures.select(col(structIdCol).as("__sid"),
      col(massCol).cast("double").as("__smass"))
    def out(df: DataFrame): DataFrame =
      df.select(col("__id").as(idCol), col("__sid").as(structIdCol),
        col("adduct"), col("__mm").as("mm"), col("__smass").as(massCol))

    // compiled kernel, not a HOF lambda (Catalyst interprets those): scan
    // every (member mz × adduct) candidate of the group, keep iff this
    // row's (adduct-rank, mm) is the minimum among in-window candidates
    val mults = adducts.map(_._2).toArray
    val offs = adducts.map(_._3).toArray
    // tie-break on mz as the third key: two DISTINCT member mzs can in
    // principle divide to the bitwise-identical mm under a non-exact mult
    // (adjacent-ulp mzs, mult not a power of two) — without the mz key
    // both rows would claim the (ord, mm) minimum and the pair would be
    // emitted twice
    def keepCol(pc: Column, oc: Column, mc: Column, ac: Column): Column =
      GraftColumnBridge.column(MassKeepExpr(
        GraftColumnBridge.expression(pc.cast("double")),
        GraftColumnBridge.expression(oc.cast("int")),
        GraftColumnBridge.expression(mc.cast("double")),
        GraftColumnBridge.expression(ac.cast("array<double>")),
        mults, offs, ppm))
    // broadcast-budget probe: total elements across the dup-id lists (one
    // cheap agg over the checkpointed distinct masses). Above the budget
    // the row-local plan would broadcast unbounded state and pay an
    // unbounded per-row scan.
    val dupElems = dupMz.agg(coalesce(sum(size(col("__mzs"))), lit(0L)))
      .first().getLong(0)
    if (dupElems > maxBroadcastDupMzs) {
      // over-budget fallback — but only DUP-id rows need group state: the
      // masses are split pre-join (both `__isdup` filters reach the mass
      // side, so the two ppm joins partition the work disjointly), unique
      // ids keep the exchange-free kernel filter with a null member list
      // (consider own mz only), and the rank window runs over just the
      // dup-id share of the join output instead of all of it. Measured on
      // the 10× ScaleCheck fixture (1.119B output rows, forced via budget
      // 0): whole-output window 347.6 s, this split form 152.0 s, the
      // row-local broadcast path 37.9 s — the fallback stays 2.3× better
      // than the naive shape even when the dup share carries most output.
      val flagged = mass1.join(dupMz.select(col("__id"), lit(true).as("__isdup")),
        Seq("__id"), "left")
      val uniq = RangeJoin.ppmJoin(
          expand(flagged.where(col("__isdup").isNull).drop("__isdup")),
          structs, "__mm", "__smass", ppm)
        .where(keepCol(col("__smass"), col("__ord"), col("__mz"),
          lit(null).cast("array<double>")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__id"), col("__sid"), col("__smass"))
        .orderBy(col("__ord"), col("__mm"), col("__mz"))
      val dup = RangeJoin.ppmJoin(
          expand(flagged.where(col("__isdup").isNotNull).drop("__isdup")),
          structs, "__mm", "__smass", ppm)
        .withColumn("__rk", rank().over(w))
        .where(col("__rk") === 1)
      return out(uniq).unionAll(out(dup))
    }

    RangeJoin.ppmJoin(expand(mass1), structs, "__mm", "__smass", ppm)
      .join(broadcast(dupMz), Seq("__id"), "left")
      .where(keepCol(col("__smass"), col("__ord"), col("__mz"), col("__mzs")))
      .select(col("__id").as(idCol), col("__sid").as(structIdCol),
        col("adduct"), col("__mm").as("mm"), col("__smass").as(massCol))
  }
}
