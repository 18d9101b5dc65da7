package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.cdc.Envelope.ApplyKernel

/** Type-2 slowly-changing-dimension (SCD2) history from a CDC change
  * stream — the canonical downstream materialization of the change
  * envelopes the sources layer decodes (the reference stops at the
  * consumer callback, `CdcEngine.java:114-126`; every warehouse
  * consumer's first move is exactly this validity-interval build).
  * Kimball's type-2 rule: every INSERT/UPDATE opens a version valid
  * from its change time, closed by the NEXT change to the same key;
  * a DELETE closes the open version without opening one. The row
  * whose interval is open (`valid_to_us` null) is `is_current`.
  *
  * Scale shape: ONE key-partitioned window (lead over the per-key
  * change sequence) — the only shuffle, keyed on the dimension key,
  * groups bounded by a key's change count (per-key history, never
  * corpus-sized). Validity bounds emit as epoch MICROSECONDS
  * (BIGINT): exact integer comparisons in any engine, no
  * timestamp-flavor or timezone hazards (the q38 convention).
  */
object ChangeHistory {

  /** Build the SCD2 history. `seq` breaks ties inside one timestamp
    * (the CDC (lsn, seq) discipline: change order must be total per
    * key). `op` is 'I'/'U'/'D' — I and U both open versions (an
    * upsert stream needs no distinction), D only closes. Value
    * columns pass through untouched. */
  def scd2(changes: DataFrame, key: Column, tsMicros: Column, seq: Column,
           op: Column, values: Seq[(String, Column)]): DataFrame = {
    val base = changes.select(
      Seq(key.as("key"), tsMicros.as("valid_from_us"), seq.as("change_id"),
        op.as("__op")) ++ values.map { case (n, c) => c.as(n) }: _*)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("valid_from_us"), col("change_id"))
    base
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .filter(col("__op") =!= "D")
      .withColumn("is_current", col("valid_to_us").isNull)
      .drop("__op")
  }

  /** Point-in-time dimension snapshot from an SCD2 history — "the
    * table as of T", the warehouse time-travel read every type-2
    * consumer runs: rows whose validity interval covers `tsMicros`
    * (half-open [valid_from, valid_to): a version is visible AT its
    * change time and invisible at the instant it is superseded — the
    * Kimball convention [[scd2]]'s lead() bounds encode). A pure
    * row-local filter: no shuffle, and with the history stored sorted
    * or partitioned on the validity bounds it prunes to the covering
    * files at any size. */
  def snapshotAsOf(history: DataFrame, tsMicros: Long): DataFrame =
    history.filter(col("valid_from_us") <= tsMicros &&
      (col("valid_to_us").isNull || col("valid_to_us") > tsMicros))

  /** Incremental SCD2 merge — apply a NEW batch of CDC changes to an
    * EXISTING history (the daily/micro-batch warehouse pattern: a full
    * rebuild re-reads the whole change log; the merge touches only the
    * increment plus one pass over the history). Produces EXACTLY what
    * [[scd2]] over the concatenated change stream would (the q120
    * oracle compares the merge against DuckDB's full rebuild
    * row-for-row), provided the CDC ordering contract holds: every
    * batch change is strictly later than every change already folded
    * into `current` (the (lsn, seq) discipline delivers batches in
    * order; a time-split replay satisfies it by construction).
    *
    * Mechanics: keys untouched by the batch pass through; a touched
    * key's OPEN version closes at the batch's first change time for
    * that key (whatever the op — a DELETE closes it too); the batch's
    * own changes chain among themselves by the [[scd2]] rule.
    *
    * Scale shape: [[scd2]] on the batch is batch-sized; the history
    * pays ONE left join against the batch's first-change-per-key
    * table (batch-key-sized, a [[keySide]], so the history does not
    * shuffle at all in the normal case) and a row-local close
    * projection. Closed historical versions are never rewritten, only
    * streamed through. */
  def scd2Merge(current: DataFrame, batch: DataFrame, key: Column,
                tsMicros: Column, seq: Column, op: Column,
                values: Seq[(String, Column)]): DataFrame = {
    val inc = scd2(batch, key, tsMicros, seq, op, values)
    val firstChange = batch
      .select(key.as("key"), tsMicros.cast("long").as("__ts"))
      .groupBy("key").agg(min(col("__ts")).as("__close_us"))
    // no ApplyKernel here, so no row count bounds the batch's keys for
    // free: the size probe stays
    val closed = current.join(keySide(firstChange, Long.MaxValue), Seq("key"), "left")
      .withColumn("valid_to_us",
        when(col("is_current") && col("__close_us").isNotNull, col("__close_us"))
          .otherwise(col("valid_to_us")))
      .withColumn("is_current", col("is_current") && col("__close_us").isNull)
      .drop("__close_us")
    closed.unionByName(inc)
  }

  /** Incremental aggregate-view maintenance from a CDC change batch —
    * classic IVM (Gupta & Mumick 1995, "Maintenance of Materialized
    * Views: Problems, Techniques, and Applications") for the
    * self-maintainable distributive aggregates (COUNT/SUM, AVG by
    * quotient): a GROUP BY view over the replicated table stays
    * current by applying the batch's NET per-key effect — retract the
    * pre-batch row's contribution, add the post-batch row's — without
    * EVER rescanning the base table or recomputing untouched groups.
    * At 100 TB of base data with a trickle of changes, this is the
    * difference between a per-batch full aggregation and work
    * proportional to the batch.
    *
    * Inputs are the engine's own shapes: `typedChanges` is an
    * [[graft.cdc.Envelope.typedView]] batch (op/lsn/seq + typed data
    * columns + the `__unchanged` TOAST list), `base` is the
    * current-state table BEFORE this batch (the
    * [[graft.cdc.Envelope.applyChanges]] output the A13 sink already
    * maintains — callers apply both verbs to the same batch). The
    * view carries, per group: `n_rows` (COUNT(*)), `n_val`
    * (COUNT(valueCol)) and `sum_val` (SUM with NULL as 0 —
    * retractable; SQL's all-NULL-sum-is-NULL projects back as
    * `CASE WHEN n_val > 0 THEN sum_val END`, and AVG as
    * sum_val / n_val).
    *
    * Semantics mirror [[graft.cdc.Envelope.applyChanges]] exactly —
    * the maintained view EQUALS the aggregate over the applyChanges
    * output (the q143 oracle and ChangeHistorySpec assert this
    * row-for-row): (lsn, seq)-latest change per key wins inside the
    * batch, a TRUNCATE marker resets view and retractions and only
    * strictly-later changes contribute, an UPDATE whose value/group
    * column is UNCHANGED/TOAST resolves it from the pre-batch row
    * ([[graft.cdc.Envelope.newValue]], the resolution applyChanges
    * uses), a group-key-changing UPDATE moves the row's mass between
    * groups (retract old group, add new), and groups retracted to zero
    * rows vanish.
    *
    * This verb folds the batch's [[touchedRows]] with [[foldAggView]].
    * A caller that also lands the post-batch base (the streaming sink,
    * q143) computes the full [[graft.cdc.Envelope.applyJoin]] once and
    * folds the view from it instead.
    *
    * Scale shape: one key-window over the BATCH (batch-sized shuffle);
    * the base pays ONE inner join against the batch's touched keys
    * (a [[keySide]], so the base never shuffles in the normal case);
    * contributions explode row-locally and fold into the view with one
    * group-key aggregate (the view is group-cardinality — small by
    * construction). */
  def maintainAggView(view: Option[DataFrame], base: DataFrame,
                      typedChanges: DataFrame, rowKeys: Seq[String],
                      groupKeys: Seq[String], valueCol: String): DataFrame = {
    val batch = new ApplyKernel(typedChanges)
    foldAggView(view, touchedRows(base, batch, rowKeys), batch, rowKeys, groupKeys, valueCol)
  }

  /** The rows one batch touches in the [[graft.cdc.Envelope.applyJoin]]
    * shape: its latest change per key left-joined with the
    * [[graft.cdc.Envelope.preBatch]] rows of those keys, which are a
    * [[keySide]], so the base never shuffles. The public view verbs read
    * the pre-batch state only through this feed; the full apply join's
    * rows with a non-null `op` are the same rows. */
  private[graft] def touchedRows(base: DataFrame, batch: ApplyKernel,
                                 rowKeys: Seq[String]): DataFrame = {
    val latest = batch.latest(rowKeys)
    latest.join(Envelope.preBatch(base, batch, rowKeys)
      .join(keySide(latest.select(rowKeys.map(col): _*), batch.rows), rowKeys),
      rowKeys, "left")
  }

  /** Column `c` of a touched row before the batch; a row key is one
    * column on both sides of the join. */
  private def before(c: String, rowKeys: Seq[String]): Column =
    if (rowKeys.contains(c)) col(c) else col(s"__cur_$c")

  /** Column `c` of a touched row after the batch
    * ([[graft.cdc.Envelope.newValue]], the applied state's resolution). */
  private def after(touched: DataFrame, c: String, rowKeys: Seq[String]): Column =
    if (rowKeys.contains(c)) col(c) else Envelope.newValue(touched, c)

  /** The one rule every view verb reads a batch by: each touched row
    * (`op` non-null) departs as `side(before, -1)` where it existed
    * before the batch and arrives as `side(after, 1)` unless its final
    * op is D, exploded row-locally. */
  private def contributions(touched: DataFrame, rowKeys: Seq[String])(
      side: (String => Column, Long) => Column): DataFrame =
    touched
      .filter(col("op").isNotNull)
      .select(explode(array(
        when(col("__in_cur").isNotNull, side(before(_, rowKeys), -1L)),
        when(col("op") =!= "D", side(after(touched, _, rowKeys), 1L)))).as("__c"))
      .filter(col("__c").isNotNull)
      .select(col("__c.*"))

  /** The `keys` values a batch may change: each touched row's departing
    * and arriving value. Recomputing an unchanged group is
    * value-idempotent, so a superset is safe. */
  private def touchedGroups(touched: DataFrame, rowKeys: Seq[String],
                            keys: Seq[String]): DataFrame =
    contributions(touched, rowKeys)((v, _) => struct(keys.map(k => v(k).as(k)): _*))

  /** The view [[maintainAggView]] maintains, folded from the rows of
    * `joined` the batch touched (`op` non-null). `joined` has the
    * [[graft.cdc.Envelope.applyJoin]] shape: row keys, `op`, the new
    * columns, `__cur_<c>` and `__in_cur` for the pre-batch row, and
    * `__unchanged` when the batch carries it. Each touched row
    * retracts its pre-batch (group, value) when it had one and adds
    * its resolved new row unless its final op is D; the prior view and
    * the contributions merge in one group-key aggregate (NULL keys
    * group together), and groups left with no rows drop. */
  private[graft] def foldAggView(view: Option[DataFrame], joined: DataFrame,
                                 batch: ApplyKernel, rowKeys: Seq[String],
                                 groupKeys: Seq[String], valueCol: String): DataFrame = {
    // the pre-batch columns: their types are the state's
    val state = joined.select((groupKeys :+ valueCol).distinct.map(c =>
      before(c, rowKeys).as(c)): _*)
    val sumType: DataType = state.schema(valueCol).dataType match {
      case d: DecimalType => DecimalType(38, d.scale)
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => LongType
      case _ => DoubleType
    }
    // shared struct shape so array() unifies; the sign rides the row
    // count, the value count and the value mass
    val contrib = contributions(joined, rowKeys) { (v, sign) =>
      val x = v(valueCol)
      struct((groupKeys.map(g => v(g).as(g)) :+
        lit(sign).as("n_rows") :+
        when(x.isNotNull, lit(sign)).otherwise(lit(0L)).as("n_val") :+
        coalesce(x.cast(sumType) * lit(sign), lit(0).cast(sumType)).cast(sumType)
          .as("sum_val")): _*)
    }
    val prior = batch.prune(view.getOrElse(emptyView(state, groupKeys,
      StructField("n_rows", LongType), StructField("n_val", LongType),
      StructField("sum_val", sumType))))
      .select(groupKeys.map(col) :+
        coalesce(col("n_rows"), lit(0L)).as("n_rows") :+
        coalesce(col("n_val"), lit(0L)).as("n_val") :+
        coalesce(col("sum_val"), lit(0).cast(sumType)).cast(sumType).as("sum_val"): _*)
    prior.unionByName(contrib)
      .groupBy(groupKeys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_val")).as("n_val"),
        sum(col("sum_val")).cast(sumType).as("sum_val"))
      .filter(col("n_rows") > 0)
  }

  /** Incremental MIN/MAX view — the published completion of the IVM
    * family (Gupta, Mumick & Subrahmanian 1993, "Maintaining Views
    * Incrementally": MIN/MAX are NOT self-maintainable under deletes —
    * retracting the current extremum needs the base — so the
    * maintenance rule is RECOMPUTE ONLY THE AFFECTED GROUPS): groups
    * untouched by the batch keep their rows verbatim (never read,
    * never recomputed); groups the batch touches recompute from the
    * post-batch base through one semi join on the batch-sized
    * affected-group list (a [[keySide]]; with the base
    * partitioned/bucketed by the group key this prunes to the affected
    * partitions at any scale). The view carries per group: n_rows,
    * min_val, max_val (SQL semantics: NULLs ignored, all-NULL group →
    * NULL extrema); groups whose last row disappears vanish with the
    * recompute.
    *
    * The uniform recompute-affected rule is deliberate: an
    * insert-only-group fast path (extrema are monotone under inserts)
    * saves nothing at the group sizes that matter and forks the
    * semantics; the affected-group set is batch-bounded either way.
    *
    * `base` is the PRE-batch state and `newBase` the applyChanges
    * output for the same batch. A touched row's group is affected
    * before the batch (the DEPARTED group: a replica-identity-DEFAULT
    * DELETE carries only key columns, a group-moving UPDATE only the new
    * group) and after it unless its final op is D, with the aggregate
    * view's resolutions, read from the batch's [[touchedRows]]. */
  def maintainMinMaxView(view: Option[DataFrame], base: DataFrame,
                         newBase: DataFrame, typedChanges: DataFrame,
                         rowKeys: Seq[String], groupKeys: Seq[String],
                         valueCol: String): DataFrame = {
    val batch = new ApplyKernel(typedChanges)
    maintainMinMaxView(view, touchedRows(base, batch, rowKeys), newBase, batch,
      rowKeys, groupKeys, valueCol)
  }

  /** [[maintainMinMaxView]] folded from a batch's touched rows (the
    * [[graft.cdc.Envelope.applyJoin]] shape; NULL-`op` rows ignored). */
  private[graft] def maintainMinMaxView(view: Option[DataFrame], touched: DataFrame,
                                        newBase: DataFrame, batch: ApplyKernel,
                                        rowKeys: Seq[String], groupKeys: Seq[String],
                                        valueCol: String): DataFrame = {
    val vType = newBase.schema(valueCol).dataType
    // past a TRUNCATE every pre-existing group is affected (the view
    // resets)
    val prior = batch.prune(view.getOrElse(emptyView(newBase, groupKeys,
      StructField("n_rows", LongType),
      StructField("min_val", vType), StructField("max_val", vType))))
    val affected = keySide(touchedGroups(touched, rowKeys, groupKeys).distinct(),
      AffectedPerRow * batch.rows)
    // recompute ONLY the affected groups from the post-batch base
    val recomputed = restrict(newBase, affected, groupKeys)
      .groupBy(groupKeys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as("min_val"), max(col(valueCol)).as("max_val"))
    replaceAffected(prior, affected, groupKeys, recomputed)
  }

  /** Incremental TOP-K view — the ranked generalization of
    * [[maintainMinMaxView]] (k = 1 of it is the max), maintained by the
    * same affected-group-recompute rule: a top-k is not
    * self-maintainable under deletes (evicting a top row needs the
    * base's next-best), so groups the batch touches recompute their
    * top-k from the post-batch base through one broadcast semi join;
    * untouched groups pass through an anti join verbatim. The view
    * carries (groupKeys..., rank 1..k, rowKeys..., orderCol) with rank
    * by orderCol DESC, ties to the low row key — deterministic, and
    * exactly mirrorable as a ROW_NUMBER window (the q149 oracle).
    * `base`/`newBase` are the pre/post applyChanges pair; the affected
    * groups are min/max's. */
  def maintainTopKView(view: Option[DataFrame], base: DataFrame,
                       newBase: DataFrame, typedChanges: DataFrame,
                       rowKeys: Seq[String], groupKeys: Seq[String],
                       orderCol: String, k: Int): DataFrame = {
    val batch = new ApplyKernel(typedChanges)
    maintainTopKView(view, touchedRows(base, batch, rowKeys), newBase, batch,
      rowKeys, groupKeys, orderCol, k)
  }

  /** [[maintainTopKView]] folded from a batch's touched rows. */
  private[graft] def maintainTopKView(view: Option[DataFrame], touched: DataFrame,
                                      newBase: DataFrame, batch: ApplyKernel,
                                      rowKeys: Seq[String], groupKeys: Seq[String],
                                      orderCol: String, k: Int): DataFrame = {
    require(k > 0, s"maintainTopKView: k=$k")
    val prior = batch.prune(view.getOrElse(emptyView(newBase, groupKeys,
      (StructField("rank", IntegerType) +:
        rowKeys.map(rk => newBase.schema(rk).copy(name = rk)) :+
        newBase.schema(orderCol).copy(name = orderCol)): _*)))
    val affected = keySide(touchedGroups(touched, rowKeys, groupKeys).distinct(),
      AffectedPerRow * batch.rows)
    val w = Window.partitionBy(groupKeys.map(col): _*)
      .orderBy(col(orderCol).desc +: rowKeys.map(col(_).asc): _*)
    val recomputed = restrict(newBase, affected, groupKeys)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(groupKeys.map(col) ++ (col("rank") +: rowKeys.map(col)) :+
        col(orderCol): _*)
    replaceAffected(prior, affected, groupKeys, recomputed)
  }

  /** One side of a [[maintainJoinView]] maintenance step: the
    * pre-batch state, the applyChanges output for the same batch, the
    * typedView batch itself, and the side's row keys. An untouched
    * side passes its state twice with an empty batch. */
  final case class IvmSide(base: DataFrame, newBase: DataFrame,
                           typedChanges: DataFrame, rowKeys: Seq[String])

  /** One table's batch as the folds read it: its touched rows (the
    * [[touchedRows]] feed or a full apply join), post-batch state,
    * kernel and row keys. */
  private[graft] final case class FedSide(touched: DataFrame, newBase: DataFrame,
                                          batch: ApplyKernel, rowKeys: Seq[String])

  /** Incremental JOIN-view maintenance — the delta-join member of the
    * IVM family (Blakeley, Larson & Tompa 1986, "Efficiently Updating
    * Materialized Views"): a denormalized inner-join view V = L ⋈ R
    * stays current under CDC batches on EITHER side without ever
    * re-joining the untouched keys. The same affected-superset rule as
    * [[maintainMinMaxView]], lifted to join keys: a join key is
    * affected if a touched row held it before the batch (the departing
    * side — a replica-identity-DEFAULT DELETE and a key-moving UPDATE
    * carry nothing else) or holds it after (the arriving side), read
    * from each side's [[touchedRows]]; recomputing an unchanged key is
    * value-idempotent, so the superset is safe. Untouched view rows pass
    * through an anti join verbatim; affected keys re-join from the two
    * POST-batch states, each restricted by one broadcast semi join
    * (bases bucketed on the join key prune to the affected partitions at
    * any scale). A TRUNCATE on either side empties the pass-through and
    * recomputes from that side's full new key set — all distributed;
    * only the side's truncate flag, resolved by its [[ApplyKernel]],
    * steers the plan.
    *
    * Non-join column names must be disjoint across the sides (the
    * natural-join shape — TPC-H-style prefixed schemas satisfy it by
    * construction). The maintained view EQUALS `newL ⋈ newR` after
    * every batch — the q146 oracle and JoinViewSpec assert it. */
  def maintainJoinView(view: Option[DataFrame], left: IvmSide, right: IvmSide,
                       joinKeys: Seq[String]): DataFrame = {
    def fed(s: IvmSide): FedSide = {
      val batch = new ApplyKernel(s.typedChanges)
      FedSide(touchedRows(s.base, batch, s.rowKeys), s.newBase, batch, s.rowKeys)
    }
    maintainJoinView(view, fed(left), fed(right), joinKeys)
  }

  /** [[maintainJoinView]] folded from each side's touched rows. */
  private[graft] def maintainJoinView(view: Option[DataFrame], left: FedSide,
                                      right: FedSide, joinKeys: Seq[String]): DataFrame = {
    // each side's kernel has resolved whether the side truncates
    // (control flow: the truncated/untouched split) and how many rows
    // it carries (the affected-key bound). Truncated: every pre-existing
    // join row dies, and every key of the side's new state recomputes.
    def affectedOf(s: FedSide): DataFrame =
      if (s.batch.truncated) s.newBase.select(joinKeys.map(col): _*)
      else touchedGroups(s.touched, s.rowKeys, joinKeys)
    val truncated = left.batch.truncated || right.batch.truncated
    val bound =
      if (truncated) Long.MaxValue else AffectedPerRow * (left.batch.rows + right.batch.rows)
    val affected = keySide(affectedOf(left).unionByName(affectedOf(right)).distinct(), bound)
    val recomputed = restrict(left.newBase, affected, joinKeys)
      .join(restrict(right.newBase, affected, joinKeys), joinKeys)
    val prior = view.getOrElse(recomputed.limit(0))
    // a TRUNCATE on either side invalidates every pre-existing join row
    replaceAffected(if (truncated) prior.limit(0) else prior, affected, joinKeys, recomputed)
  }

  /** Incremental QUANTILE view via persisted mergeable GK sketches —
    * the q144 pattern with [[QuantileSketch]] as the per-group state
    * (r16; VERDICT r15 next #5): "p95 latency per source, maintained"
    * becomes a dashboard read. Per group the view stores the serialized
    * sketch plus `n_val` and one estimate column per requested
    * quantile; each change batch folds in with ONE sketch aggregation
    * at delta size and a group-sized pairwise merge.
    *
    * Semantics are INSERT-MONOTONE like the HLL view: I/U/R rows
    * contribute their (group, value); DELETE and TRUNCATE do not
    * retract — a GK summary only grows, and the retractable alternative
    * is the exact q39 path or a recompute (the same fundamental
    * asymmetry [[maintainDistinctView]] documents). NULL values
    * contribute nothing; a NULL group key is a group like any other.
    * Self-maintainable — no base table read. Estimates carry the GK
    * bound: true rank within ε·n (the q152 contract measures it). */
  def maintainQuantileView(view: Option[DataFrame], typedChanges: DataFrame,
                           groupKeys: Seq[String], valueCol: String,
                           quantiles: Seq[(Double, String)],
                           relativeError: Double = 0.01): DataFrame = {
    require(quantiles.nonEmpty, "maintainQuantileView: no quantiles requested")
    val delta = typedChanges
      .filter(col("op").isin("I", "U", "R") && col(valueCol).isNotNull)
      .groupBy(groupKeys.map(col): _*)
      .agg(QuantileSketch.sketchAgg(col(valueCol).cast("double"), relativeError)
        .as("__qs"))
    val prior = view.getOrElse(emptyView(typedChanges, groupKeys,
      (StructField("sketch", BinaryType) +: StructField("n_val", LongType) +:
        quantiles.map { case (_, n) => StructField(n, DoubleType) }): _*))
    val merged = QuantileSketch.mergeSketches(col("sketch"), col("__qs"))
    mergeByGroup(prior, delta, groupKeys,
      (merged.as("sketch") +: QuantileSketch.countOf(merged).as("n_val") +:
        quantiles.map { case (q, n) => QuantileSketch.quantileOf(q)(merged).as(n) }): _*)
  }

  /** Incremental DISTINCT-COUNT view via persisted mergeable HLL
    * sketches — the Druid/Pinot sketch-rollup pattern: per group the
    * view stores a DataSketches HLL sketch (BINARY, fixed size) plus
    * its estimate, and each change batch folds in with ONE sketch
    * aggregation and a group-sized union merge. At 100 TB this is what
    * makes "unique users per source, ever" a dashboard read instead of
    * a corpus scan: sketch union yields a valid
    * sketch of the union with the SAME error bounds — though not
    * bit-identical to direct building (the union path targets a
    * different internal HLL representation, so estimates can differ
    * within the rsd at dense cardinalities; the q144 contract bounds
    * chained-vs-one-shot at 2%).
    *
    * Semantics are DISTINCT-EVER (the set-union view): I/U/R rows
    * contribute their (group, value); DELETE and TRUNCATE do not
    * retract — an HLL can only grow, and "uniques ever seen" is the
    * metric these rollups track (a retractable distinct needs the q12
    * exact path or a recompute; that asymmetry is fundamental, not an
    * implementation gap). NULL values contribute nothing; a NULL group
    * key is a group like any other. Unlike [[maintainAggView]] this
    * view is SELF-maintainable — no base table read at all. */
  def maintainDistinctView(view: Option[DataFrame], typedChanges: DataFrame,
                           groupKeys: Seq[String], valueCol: String,
                           lgConfigK: Int = 12): DataFrame = {
    val delta = typedChanges
      .filter(col("op").isin("I", "U", "R") && col(valueCol).isNotNull)
      .groupBy(groupKeys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("__ds"))
      .filter(col("__ds").isNotNull)
    val prior = view.getOrElse(emptyView(typedChanges, groupKeys,
      StructField("sketch", BinaryType), StructField("uniques", LongType)))
    // allowDifferentLgConfigK: a view resumed with a different lgConfigK
    // than its persisted sketches unions at the SMALLER lgK (slightly
    // higher rsd on those groups) instead of throwing mid-batch deep
    // inside the union (ADVICE r15) — the mergeable-sketch downgrade
    // rule every DataSketches deployment relies on
    val merged = when(col("sketch").isNotNull && col("__ds").isNotNull,
        hll_union(col("sketch"), col("__ds"), allowDifferentLgConfigK = true))
      .otherwise(coalesce(col("sketch"), col("__ds")))
    mergeByGroup(prior, delta, groupKeys,
      merged.as("sketch"), hll_sketch_estimate(merged).as("uniques"))
  }

  /** Broadcast bound for [[keySide]]. */
  private val KeySideBound = 10000000L

  /** Affected groups per batch row: a row's arriving group plus the
    * group its key held before the batch. */
  private val AffectedPerRow = 2L

  /** A batch-sized key side joined against state: broadcast under
    * [[KeySideBound]] (exact shuffle-hash above it), so the state side
    * does not shuffle. The size guard stays explicit: a streaming
    * micro-batch reports no statistics, so the planner cannot choose the
    * broadcast on its own. `atMostRows` is an upper bound on `keys`
    * that the caller already holds (an [[ApplyKernel]]'s row count);
    * when it is within [[KeySideBound]] no probe job runs, otherwise a
    * bounded count decides. */
  private def keySide(keys: DataFrame, atMostRows: Long): DataFrame =
    if (atMostRows <= KeySideBound || SizeDispatch.atMost(keys, KeySideBound)) broadcast(keys)
    else keys.hint("shuffle_hash")

  /** The empty view a first batch merges into: `groupKeys` typed as in
    * `source`, then `fields`. */
  private def emptyView(source: DataFrame, groupKeys: Seq[String],
                        fields: StructField*): DataFrame =
    source.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(groupKeys.map(g => source.schema(g).copy(name = g)) ++ fields))

  /** Null-safe full-outer merge of a view with its per-group delta: a
    * NULL group key is a group like any other. Group keys coalesce
    * across the sides; `merged` projects the rest from the prior view's
    * and the delta's columns. */
  private def mergeByGroup(prior: DataFrame, delta: DataFrame, groupKeys: Seq[String],
                           merged: Column*): DataFrame = {
    prior.alias("v").join(delta.alias("d"), sameKeys("v", "d", groupKeys), "full_outer")
      .select(groupKeys.map(g => coalesce(col(s"v.$g"), col(s"d.$g")).as(g)) ++ merged: _*)
  }

  /** The rows of `df` in the `affected` groups (null-safe semi join). */
  private def restrict(df: DataFrame, affected: DataFrame, keys: Seq[String]): DataFrame =
    df.alias("b").join(affected.alias("a"), sameKeys("b", "a", keys), "left_semi")

  /** `prior` with its affected groups replaced: untouched rows pass
    * through an anti join verbatim, `recomputed` supplies the rest. */
  private def replaceAffected(prior: DataFrame, affected: DataFrame, keys: Seq[String],
                              recomputed: DataFrame): DataFrame =
    prior.alias("v").join(affected.alias("a"), sameKeys("v", "a", keys), "left_anti")
      .unionByName(recomputed)

  /** `l.k <=> r.k` over every key of two aliased sides: NULL keys match. */
  private def sameKeys(l: String, r: String, keys: Seq[String]): Column =
    keys.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)
}
