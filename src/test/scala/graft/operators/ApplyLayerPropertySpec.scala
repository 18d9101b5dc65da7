package graft.operators

import scala.collection.mutable

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.{Seed => GenSeed}

/** Generative check of the CDC apply layer. Seeded ScalaCheck cases
  * chain 1–4 typed change batches through [[Envelope.applyChanges]] for
  * a fact table T(k, g, v) keyed by k and a dimension D(g, w, x) keyed by
  * g. After every batch, each incremental view verb must equal its
  * from-scratch recomputation over the applyChanges output:
  * [[ChangeHistory.maintainAggView]], [[ChangeHistory.maintainMinMaxView]]
  * and [[ChangeHistory.maintainTopKView]] grouped by T.g, and
  * [[ChangeHistory.maintainJoinView]] of T ⋈ D on g. Each view folded
  * from the batch's [[Envelope.applyJoin]] (the path of the streaming
  * sink and of the q143/q145/q146/q149 rounds: [[ChangeHistory.foldAggView]]
  * and the touched-row overloads of the other three verbs) must equal
  * both its recomputation and the public verb's, and the base applied
  * from the join must equal applyChanges. Chained [[ChangeHistory.scd2Merge]] must equal
  * [[ChangeHistory.scd2]] over every change so far.
  *
  * The batches mix INSERT/UPDATE/DELETE, mid-batch TRUNCATE, equal-LSN
  * runs ordered by `seq`, delete-then-reinsert of one key, UPDATEs that
  * move a row's group (T.g is also the join key) and UNCHANGED/TOAST
  * cells (`__unchanged`) on pre-batch keys and on keys inserted earlier
  * in the same batch. A small model of the table's live keys keeps the
  * stream one PostgreSQL could emit: inserts hit absent keys, updates
  * and deletes hit live ones, and a TRUNCATE empties the table. */
class ApplyLayerPropertySpec extends SparkSpec {

  private sealed trait Act { def sameLsn: Boolean }
  private final case class Ins(pick: Int, a: Option[Long], b: Option[Long],
                               sameLsn: Boolean) extends Act
  // bit 0 / bit 1 of `unchanged`: column a / b arrives as UNCHANGED
  private final case class Upd(pick: Int, a: Option[Long], b: Option[Long],
                               unchanged: Int, sameLsn: Boolean) extends Act
  private final case class Del(pick: Int, fullRow: Boolean, sameLsn: Boolean) extends Act
  private final case class DelIns(pick: Int, a: Option[Long], b: Option[Long],
                                  sameLsn: Boolean) extends Act
  private final case class Trunc(sameLsn: Boolean) extends Act

  private def act(a: Gen[Option[Long]], b: Gen[Option[Long]]): Gen[Act] = for {
    same <- Gen.frequency(2 -> true, 3 -> false)
    pick <- Gen.choose(0, 99)
    va <- a
    vb <- b
    u <- Gen.frequency(3 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
    full <- Gen.oneOf(true, false)
    act <- Gen.frequency(
      5 -> Gen.const(Ins(pick, va, vb, same)),
      6 -> Gen.const(Upd(pick, va, vb, u, same)),
      3 -> Gen.const(Del(pick, full, same)),
      1 -> Gen.const(DelIns(pick, va, vb, same)),
      1 -> Gen.const(Trunc(same)))
  } yield act

  private def opt(g: Gen[Long]): Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> g.map(Some(_)))

  private val factAct = act(opt(Gen.choose(0L, 7L)), opt(Gen.choose(-3L, 9L)))
  private val dimAct = act(opt(Gen.choose(0L, 4L)), opt(Gen.choose(0L, 4L)))

  private val cases = for {
    n <- Gen.choose(1, 4)
    fact <- Gen.listOfN(n, Gen.choose(2, 10).flatMap(Gen.listOfN(_, factAct)))
    dim <- Gen.listOfN(n, Gen.choose(0, 5).flatMap(Gen.listOfN(_, dimAct)))
  } yield (fact, dim)

  private def schema(key: String, a: String, b: String) = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField(key, LongType), StructField(a, LongType), StructField(b, LongType),
    StructField(Envelope.UnchangedCol, ArrayType(StringType, containsNull = false),
      nullable = false)))

  /** Interprets generated actions against the live-key model of one
    * table and emits its typedView-shaped change batches. */
  private final class Table(keys: Seq[Long], key: String, a: String, b: String) {
    val schema: StructType = ApplyLayerPropertySpec.this.schema(key, a, b)
    private var live = Map.empty[Long, (Option[Long], Option[Long])]
    private var lsn = 0L

    def batch(acts: Seq[Act], seen: mutable.Set[String]): Seq[Row] = {
      val pre = live
      val out = mutable.ArrayBuffer.empty[Row]
      val inserted = mutable.Set.empty[Long]
      var seq = 0L
      def box(v: Option[Long]): java.lang.Long = v.map(Long.box).orNull
      def emit(op: String, k: Option[Long], va: Option[Long], vb: Option[Long],
               same: Boolean, unchanged: Seq[String] = Nil): Unit = {
        if (same && out.nonEmpty) { seq += 1; seen += "equal-lsn run" }
        else { lsn += 1; seq = 0 }
        out += Row(op, lsn, seq, box(k), box(va), box(vb), unchanged)
      }
      def pickFrom(ks: Seq[Long], pick: Int): Option[Long] =
        if (ks.isEmpty) None else Some(ks(pick % ks.size))
      def liveKeys = live.keys.toSeq.sorted
      acts.foreach {
        case Ins(pick, va, vb, same) =>
          pickFrom(keys.filterNot(live.contains), pick).foreach { k =>
            emit("I", Some(k), va, vb, same)
            live += k -> (va, vb); inserted += k
          }
        case Upd(pick, va, vb, mask, same) =>
          pickFrom(liveKeys, pick).foreach { k =>
            val (oa, ob) = live(k)
            // only a stored (non-NULL) value can arrive as UNCHANGED
            val ua = (mask & 1) != 0 && oa.isDefined
            val ub = (mask & 2) != 0 && ob.isDefined
            emit("U", Some(k), if (ua) None else va, if (ub) None else vb, same,
              (if (ua) Seq(a) else Nil) ++ (if (ub) Seq(b) else Nil))
            if (ua || ub)
              seen += (if (inserted(k)) "unchanged on an in-batch insert"
                       else "unchanged on a pre-batch key")
            if (!ua && va != oa) seen += "group-moving update"
            live += k -> (if (ua) oa else va, if (ub) ob else vb)
          }
        case Del(pick, fullRow, same) =>
          pickFrom(liveKeys, pick).foreach { k =>
            val (oa, ob) = if (fullRow) live(k) else (None, None)
            emit("D", Some(k), oa, ob, same)
            live -= k
          }
        case DelIns(pick, va, vb, same) =>
          pickFrom(liveKeys, pick).foreach { k =>
            emit("D", Some(k), None, None, same)
            emit("I", Some(k), va, vb, same)
            live += k -> (va, vb); inserted += k
            seen += "delete-then-reinsert"
          }
        case Trunc(same) =>
          if (out.nonEmpty) seen += "mid-batch truncate"
          emit("T", None, None, None, same)
          live = Map.empty
      }
      // a value of `a` that a touched key held before the batch and no
      // change of the batch carries: only the pre-batch rows reveal it
      // (the departing group of a key-only DELETE or a moving UPDATE)
      def cell(r: Row, i: Int) = Option(r.get(i)).map(_.asInstanceOf[java.lang.Long].longValue)
      val carried = out.map(cell(_, 4)).toSet
      if (!out.exists(_.getString(0) == "T") &&
          out.flatMap(cell(_, 3)).flatMap(pre.get).exists(v => !carried(v._1)))
        seen += s"departing-only $a"
      out.toSeq
    }
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  /** `df` collected into a local relation: the next batch starts from a
    * short plan, as a sink's state read back from storage does. */
  private def local(df: DataFrame): DataFrame = frame(df.collect().toSeq, df.schema)

  private def aggOf(t: DataFrame): DataFrame =
    t.groupBy("g").agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_val"),
      sum(coalesce(col("v"), lit(0L))).as("sum_val"))

  private def minMaxOf(t: DataFrame): DataFrame =
    t.groupBy("g").agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_val"),
      max(col("v")).as("max_val"))

  private val TopK = 2

  private def topKOf(t: DataFrame): DataFrame =
    t.withColumn("rank", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v").desc, col("k").asc)))
      .filter(col("rank") <= TopK)

  private def history(changes: DataFrame, merged: Option[DataFrame]): DataFrame = {
    val c = changes.filter(col("op") =!= "T")
    merged match {
      case Some(h) => ChangeHistory.scd2Merge(h, c, col("k"), col("lsn"), col("seq"),
        col("op"), Seq("v" -> col("v")))
      case None => ChangeHistory.scd2(c, col("k"), col("lsn"), col("seq"),
        col("op"), Seq("v" -> col("v")))
    }
  }

  private val HistoryCols =
    Seq("key", "change_id", "v", "valid_from_us", "valid_to_us", "is_current")

  test("generated batches: each view verb equals its recomputation over applyChanges, " +
    "and chained scd2Merge equals scd2 over all changes") {
    var genSeed = GenSeed(20261018L)
    val seen = mutable.Set.empty[String]
    (0 until 5).foreach { c =>
      val (factActs, dimActs) = cases(Gen.Parameters.default, genSeed).get
      genSeed = genSeed.next
      val fact = new Table(0L to 5L, "k", "g", "v")
      val dim = new Table(0L to 4L, "g", "w", "x")
      var t = frame(Nil, fact.schema).select("k", "g", "v")
      var d = frame(Nil, dim.schema).select("g", "w", "x")
      var agg, fused, minMax, topK, join, hist: Option[DataFrame] = None
      var fusedMinMax, fusedTopK, fusedJoin: Option[DataFrame] = None
      val factRows = mutable.ArrayBuffer.empty[Row]
      factActs.zip(dimActs).zipWithIndex.foreach { case ((fa, da), i) =>
        val fb = fact.batch(fa, seen)
        val db = dim.batch(da, seen)
        factRows ++= fb
        val bt = frame(fb, fact.schema)
        val bd = frame(db, dim.schema)
        val where = s"case $c batch $i\nT batch: ${fb.mkString(" ")}\nD batch: ${db.mkString(" ")}"
        val nt = local(Envelope.applyChanges(t, bt, Seq("k")))
        val nd = local(Envelope.applyChanges(d, bd, Seq("g")))
        agg = Some(local(ChangeHistory.maintainAggView(agg, t, bt, Seq("k"), Seq("g"), "v")))
        // the streaming sink's and the IVM rows' path: one apply join per
        // table lands the base and folds every view
        val kernel = new Envelope.ApplyKernel(bt)
        val joined = Envelope.applyJoin(t, kernel, Seq("k"))
        val applied = local(Envelope.appliedState(joined, t.columns.toSeq, Seq("k")))
        val dKernel = new Envelope.ApplyKernel(bd)
        val dJoined = Envelope.applyJoin(d, dKernel, Seq("g"))
        val dApplied = local(Envelope.appliedState(dJoined, d.columns.toSeq, Seq("g")))
        fused = Some(local(ChangeHistory.foldAggView(fused, joined, kernel,
          Seq("k"), Seq("g"), "v")))
        fusedMinMax = Some(local(ChangeHistory.maintainMinMaxView(fusedMinMax, joined, applied,
          kernel, Seq("k"), Seq("g"), "v")))
        fusedTopK = Some(local(ChangeHistory.maintainTopKView(fusedTopK, joined, applied,
          kernel, Seq("k"), Seq("g"), "v", TopK)))
        fusedJoin = Some(local(ChangeHistory.maintainJoinView(fusedJoin,
          ChangeHistory.FedSide(joined, applied, kernel, Seq("k")),
          ChangeHistory.FedSide(dJoined, dApplied, dKernel, Seq("g")), Seq("g"))))
        minMax = Some(local(ChangeHistory.maintainMinMaxView(minMax, t, nt, bt,
          Seq("k"), Seq("g"), "v")))
        topK = Some(local(ChangeHistory.maintainTopKView(topK, t, nt, bt,
          Seq("k"), Seq("g"), "v", TopK)))
        join = Some(local(ChangeHistory.maintainJoinView(join,
          ChangeHistory.IvmSide(t, nt, bt, Seq("k")),
          ChangeHistory.IvmSide(d, nd, bd, Seq("g")), Seq("g"))))
        hist = Some(local(history(bt, hist)))
        val aggCols = Seq("g", "n_rows", "n_val", "sum_val")
        assert(rows(agg.get, aggCols: _*) === rows(aggOf(nt), aggCols: _*), s"agg view\n$where")
        assert(rows(fused.get, aggCols: _*) === rows(agg.get, aggCols: _*),
          s"agg view folded from the apply join\n$where")
        assert(rows(applied, "k", "g", "v") === rows(nt, "k", "g", "v"),
          s"base from the apply join\n$where")
        assert(rows(dApplied, "g", "w", "x") === rows(nd, "g", "w", "x"),
          s"dimension from the apply join\n$where")
        val mmCols = Seq("g", "n_rows", "min_val", "max_val")
        assert(rows(minMax.get, mmCols: _*) === rows(minMaxOf(nt), mmCols: _*),
          s"min/max view\n$where")
        assert(rows(fusedMinMax.get, mmCols: _*) === rows(minMax.get, mmCols: _*),
          s"min/max view folded from the apply join\n$where")
        val topCols = Seq("g", "rank", "k", "v")
        assert(rows(topK.get, topCols: _*) === rows(topKOf(nt), topCols: _*),
          s"top-k view\n$where")
        assert(rows(fusedTopK.get, topCols: _*) === rows(topK.get, topCols: _*),
          s"top-k view folded from the apply join\n$where")
        val joinCols = Seq("g", "k", "v", "w", "x")
        assert(rows(join.get, joinCols: _*) === rows(nt.join(nd, "g"), joinCols: _*),
          s"join view\n$where")
        assert(rows(fusedJoin.get, joinCols: _*) === rows(join.get, joinCols: _*),
          s"join view folded from the apply joins\n$where")
        assert(rows(hist.get, HistoryCols: _*) ===
          rows(history(frame(factRows.toSeq, fact.schema), None), HistoryCols: _*),
          s"scd2 history\n$where")
        t = nt; d = nd
      }
    }
    val shapes = Set("equal-lsn run", "mid-batch truncate", "delete-then-reinsert",
      "group-moving update", "departing-only g", "unchanged on a pre-batch key",
      "unchanged on an in-batch insert")
    assert((shapes -- seen).isEmpty, "shapes the generated batches never covered")
  }
}
