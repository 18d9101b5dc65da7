package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PgFunctions
import graft.wal.PgOutput.RelationMeta

/** The generic change envelope — Spark-native counterpart of the
  * reference's `TableRecord` (`wal/TableRecord.java:7-24`): row-oriented,
  * name-addressed, everything-is-a-string-until-accessed
  * (`wal/TableColumn.java:10-13`).
  *
  * Encoding of the three cell states (SURVEY.md §1.4, A10):
  *  - present text value  -> key in `columns`;
  *  - SQL NULL ('n')      -> name listed in `nulls` (maps with null values
  *    don't round-trip Dataset encoders cleanly; an explicit name list
  *    keeps NULL distinguishable from UNCHANGED);
  *  - UNCHANGED/TOAST ('u') -> absent from both (the reference omits the
  *    column from the record, `PgWalMessageDecoder.java:206-207`).
  */
final case class ChangeRecord(
    op: String, // "I" | "U" | "D" | "T" (truncate) | "R" (snapshot read) | "M" (logical decoding message) | "Y" (type) | "O" (origin)
    lsn: Long,
    txid: Long,
    schema: String,
    table: String,
    columns: Map[String, String],
    nulls: Seq[String],
    before: Map[String, String],
    // Arrival sequence within an equal-LSN frame run (LSNs are
    // non-decreasing but NOT strictly monotone across pgoutput messages).
    // (lsn, seq) totally orders records, which applyChanges needs: a
    // truncate and a post-truncate insert can share a WAL position, and
    // a strictly-lsn watermark would silently drop the insert.
    seq: Long = 0L)

object Envelope {

  val schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("txid", LongType, nullable = false),
    StructField("schema", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("columns", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("nulls", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("before", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** PG type OID → Spark type for the typed-view projection. Mirrors the
    * reference's accessor surface (`TableColumn.java:15-53`): int4/int8,
    * varchar/text, bool, numeric→Decimal, the four array accessors
    * (numeric[] parses to doubles there, so ArrayType(DoubleType) here);
    * plus timestamp/date/float8, which the reference would leave as
    * strings (SURVEY.md §1.2 "not supported") but a query layer needs. */
  def sparkTypeFor(typeOid: Int, typeMod: Int): DataType = typeOid match {
    case 16 => BooleanType // bool
    case 17 => BinaryType // bytea (hex wire text, PG >= 9.0 default)
    case 21 => ShortType // int2
    case 23 => IntegerType // int4
    case 20 => LongType // int8
    case 700 => FloatType // float4
    case 701 => DoubleType // float8
    case 1700 => // numeric(p,s) from typmod = ((p<<16)|s)+4
      if (typeMod >= 4) {
        val m = typeMod - 4
        DecimalType(math.min((m >> 16) & 0xFFFF, 38), m & 0xFFFF)
      } else DecimalType(38, 18)
    case 25 | 1043 | 1042 => StringType // text, varchar, bpchar
    case 1114 | 1184 => TimestampType // timestamp[tz]
    case 1082 => DateType // date
    case 1007 => ArrayType(IntegerType) // int4[]
    case 1016 => ArrayType(LongType) // int8[]
    case 1231 => ArrayType(DoubleType) // numeric[] (reference: asDoubleArray)
    case 1009 | 1015 => ArrayType(StringType) // text[], varchar[]
    case _ => StringType // unknown: pass through as text
  }

  /** Envelope encoding of a logical decoding message ('M',
    * `pg_logical_emit_message` — dropped by the reference,
    * `PgWalMessageDecoder.java:60-61`): no relation, so schema/table are
    * empty (typed views filter on schema+table and never see them) and
    * the payload rides the `columns` map — content base64'd because it
    * is arbitrary bytes and the map is String→String. [[messages]]
    * decodes the typed view. */
  def messageRecord(lsn: Long, txid: Long, m: graft.wal.PgOutput.LogicalMessage,
                    seq: Long = 0L): ChangeRecord =
    ChangeRecord("M", lsn, txid, "", "",
      Map("prefix" -> m.prefix,
          "content" -> java.util.Base64.getEncoder.encodeToString(m.content),
          "transactional" -> (if (m.transactional) "t" else "f"),
          "message_lsn" -> m.msgLsn.toString),
      Vector.empty, Map.empty, seq)

  /** Typed view of the logical decoding messages in an envelope stream:
    * (lsn, txid, transactional, message_lsn, prefix, content as binary),
    * in stream order. The consumer-side pair of [[messageRecord]]. */
  def messages(envelope: DataFrame): DataFrame =
    envelope.filter(col("op") === "M").select(
      col("lsn"), col("txid"),
      (element_at(col("columns"), "transactional") === "t").as("transactional"),
      element_at(col("columns"), "message_lsn").cast(LongType).as("message_lsn"),
      element_at(col("columns"), "prefix").as("prefix"),
      unbase64(element_at(col("columns"), "content")).as("content"))

  /** Envelope encoding of a TYPE ('Y') frame — user-defined-type catalog
    * metadata, dropped by the reference (`PgWalMessageDecoder.java:
    * 60-61`). No relation, so envelope schema/table stay empty (typed
    * views never see these rows); payload rides `columns`. */
  def typeRecord(lsn: Long, txid: Long, t: graft.wal.PgOutput.TypeMessage,
                 seq: Long = 0L): ChangeRecord =
    ChangeRecord("Y", lsn, txid, "", "",
      Map("type_oid" -> t.typeOid.toString,
          "type_schema" -> t.schema,
          "type_name" -> t.name),
      Vector.empty, Map.empty, seq)

  /** Envelope encoding of an ORIGIN ('O') frame — the cascaded-setup
    * provenance marker, dropped by the reference (same cite). */
  def originRecord(lsn: Long, txid: Long, o: graft.wal.PgOutput.OriginMessage,
                   seq: Long = 0L): ChangeRecord =
    ChangeRecord("O", lsn, txid, "", "",
      Map("origin_lsn" -> o.commitLsn.toString, "origin_name" -> o.name),
      Vector.empty, Map.empty, seq)

  /** Typed view of the TYPE ('Y') catalog announcements in an envelope
    * stream: (lsn, txid, type_oid, type_schema, type_name). This is the
    * OID→name mapping for user-defined-type columns: [[sparkTypeFor]]
    * surfaces an unknown OID's cells as text (PG wire text output — the
    * right lazy representation for enums/domains), and a consumer that
    * wants a stronger typed view joins its RELATION column OIDs against
    * this catalog to decide its own casts. */
  def types(envelope: DataFrame): DataFrame =
    envelope.filter(col("op") === "Y").select(
      col("lsn"), col("txid"),
      element_at(col("columns"), "type_oid").cast(IntegerType).as("type_oid"),
      element_at(col("columns"), "type_schema").as("type_schema"),
      element_at(col("columns"), "type_name").as("type_name"))

  /** Cell accessor honoring the NULL-vs-UNCHANGED distinction: NULL when
    * the name is in `nulls` OR absent entirely (UNCHANGED surfaces as
    * NULL in the typed view; callers can inspect the envelope if they
    * need TOAST awareness). */
  private def cell(name: String): Column =
    when(array_contains(col("nulls"), name), lit(null).cast(StringType))
      .otherwise(element_at(col("columns"), name))

  /** Typed cast of one cell, with the reference's parse rules:
    * boolean is `"t"` (case-insensitive) and NULL-as-false
    * (`TableColumn.java:31-33`); arrays via the PgArrayLiteral-parity
    * UDFs; scalars via Catalyst casts (strict upgrade over per-access
    * parsing, SURVEY.md §3.3). */
  def typedCell(name: String, t: DataType): Column = {
    val v = cell(name)
    t match {
      case BooleanType => coalesce(lower(v) === "t", lit(false))
      case BinaryType =>
        // bytea: the hex wire format ("\x0a1b…", the server default
        // since 9.0) decodes via codegen'd unhex; the legacy escape
        // format (bytea_output=escape — printable bytes verbatim,
        // doubled backslash, \ooo octal) routes through the
        // from_pg_bytea_escape kernel, which THROWS on a malformed
        // literal rather than silently NULLing data (VERDICT r8 #4).
        when(v.isNull, lit(null).cast(BinaryType))
          .when(v.startsWith("\\x"), unhex(v.substr(lit(3), length(v))))
          .otherwise(PgFunctions.from_pg_bytea_escape(v))
      case ArrayType(LongType, _) => PgFunctions.from_pg_long_array(v)
      case ArrayType(IntegerType, _) => PgFunctions.from_pg_int_array(v)
      case ArrayType(DoubleType, _) => PgFunctions.from_pg_double_array(v)
      case ArrayType(StringType, _) => PgFunctions.from_pg_string_array(v)
      case other => v.cast(other)
    }
  }

  /** Typed view of one relation's changes: filter to the table, project
    * every relation column through its typed cast, keep the envelope
    * metadata columns. Compiled once by Catalyst and codegen'd — replaces
    * the reference's per-access parsing. */
  def typedView(envelope: DataFrame, meta: RelationMeta): DataFrame = {
    val dataCols = meta.columns.map { c =>
      typedCell(c.name, sparkTypeFor(c.typeOid, c.typeMod)).as(c.name)
    }
    // UNCHANGED/TOAST indicator, distinct from NULL: for an UPDATE, a column
    // absent from both `columns` and `nulls` was a 'u' cell — its current
    // value must be preserved by applyChanges, not overwritten with NULL
    // (the reference omits such columns from the record for the same
    // reason, PgWalMessageDecoder.java:206-207).
    val names = array(meta.columns.map(c => lit(c.name)): _*)
    val unchanged = when(col("op") === "U",
      filter(names, n => !map_contains_key(col("columns"), n) && !array_contains(col("nulls"), n)))
      .otherwise(array().cast("array<string>")).as(UnchangedCol)
    // seq rides along when the envelope carries it (decoder-produced
    // streams do; hand-built change sets may not) so applyChanges can
    // order equal-LSN frames.
    val metaCols =
      if (envelope.columns.contains("seq"))
        Seq(col("op"), col("lsn"), col("seq"), col("txid"))
      else Seq(col("op"), col("lsn"), col("txid"))
    envelope
      .filter(col("schema") === meta.schema && col("table") === meta.table)
      .select(metaCols ++ (unchanged +: dataCols): _*)
  }

  /** Name of the typed-view metadata column listing UPDATE columns that
    * were UNCHANGED/TOAST in the WAL record (present in the view as NULL,
    * but to be preserved — not nulled — on merge). */
  val UnchangedCol = "__unchanged"

  /** An empty current-state table with `meta`'s typed schema — the
    * bootstrap input for [[applyChanges]] on a previously-unseen
    * relation. */
  def emptyFor(spark: org.apache.spark.sql.SparkSession, meta: RelationMeta): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(meta.columns.map(c =>
        StructField(c.name, sparkTypeFor(c.typeOid, c.typeMod)))))

  /** The apply discipline shared by [[applyChanges]] and the incremental
    * view verbs of [[graft.operators.ChangeHistory]]: one batch of typed
    * changes, its (lsn, seq) order, its TRUNCATE watermark and its
    * latest change per key.
    *
    * (lsn, seq) totally orders the batch: LSNs repeat across consecutive
    * pgoutput frames, and a strictly-lsn truncate watermark would drop a
    * post-truncate insert sharing the truncate frame's WAL position.
    * Hand-built change sets without a seq column order by lsn alone.
    *
    * Building a kernel runs ONE global aggregate over the batch, read
    * back to the driver: its row count and the position of its last
    * TRUNCATE. Every later plan over the batch uses these values: the
    * watermark is a literal filter, and [[rows]] bounds every key set
    * the batch can touch, so a consumer picks its broadcast side
    * without a size probe. A caller that applies several verbs to one
    * batch builds one kernel and shares it. */
  private[graft] final class ApplyKernel(typedChanges: DataFrame) {
    private val hasSeq = typedChanges.columns.contains("seq")
    private val seqC = if (hasSeq) col("seq") else lit(0L)
    // structs compare lexicographically; named fields so the batch's
    // position and the literal watermark have the same struct type
    private val pos = struct(col("lsn").as("lsn"), seqC.as("seq"))

    private val stats = typedChanges
      .agg(count(lit(1)), max(when(col("op") === "T", pos)))
      .head()

    /** The batch's row count, TRUNCATE markers included: an upper bound
      * on the keys, and so on the groups, that the batch touches. */
    val rows: Long = stats.getLong(0)

    /** True when the batch carries a TRUNCATE marker. */
    val truncated: Boolean = !stats.isNullAt(1)

    /** The last TRUNCATE's position as a literal of the batch's own
      * lsn and seq types: the values cross to the driver as a Row and
      * back, never through a typed accessor (ADVICE r15: `getLong`
      * threw on a non-Long lsn). */
    private def watermark: Column = {
      val t = stats.getStruct(1)
      val seqType = if (hasSeq) typedChanges.schema("seq").dataType else LongType
      struct(lit(t.get(0)).cast(typedChanges.schema("lsn").dataType).as("lsn"),
        lit(t.get(1)).cast(seqType).as("seq"))
    }

    /** `state` as of the batch's start, seen through its TRUNCATE: empty
      * when the batch truncates, unchanged otherwise. */
    def prune(state: DataFrame): DataFrame =
      if (truncated) state.filter(lit(false)) else state

    /** The batch's changes strictly after its last TRUNCATE, markers dropped. */
    val changes: DataFrame =
      if (truncated) typedChanges.filter(col("op") =!= "T" && pos > watermark)
      else typedChanges

    /** The latest of [[changes]] per `keys`; same-lsn tiebreak D < I < U
      * deterministic. */
    def latest(keys: Seq[String]): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("lsn").desc, seqC.desc, col("op").desc)
      changes.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** MERGE-style apply-changes: materialize I/U/D/T into a current-state
    * table keyed by `keys` (the library op the reference leaves to
    * consumers, SURVEY.md §4.3). Semantics:
    *  - a TRUNCATE marker (op 'T', VERDICT r7 #4) wipes the table: every
    *    pre-existing `current` row is dropped and only changes with lsn
    *    STRICTLY AFTER the latest truncate survive to be applied — so a
    *    truncated table serves zero rows and post-truncate inserts
    *    repopulate it. The truncate watermark is a literal filter
    *    resolved by the [[ApplyKernel]]'s one aggregate over the change
    *    set — no extra pass over `current`;
    *  - per key, only the HIGHEST-lsn change wins (whole-batch dedup makes
    *    redelivered/overflow-flushed records idempotent — the reference's
    *    at-least-once duplicate-tolerance, SURVEY.md §7.3.1);
    *  - final op D deletes, I/U upserts;
    *  - an UPDATE column flagged UNCHANGED/TOAST (the typed view's
    *    `__unchanged` list) keeps the current-state value — mirroring the
    *    reference's omit-unchanged-columns contract so TOASTed values are
    *    never nulled out by a merge.
    * One shuffle on the key for the window + one key-partitioned full-outer
    * join against current: at scale, `current` should be bucketed/
    * partitioned by the same keys so the join co-locates. */
  def applyChanges(current: DataFrame, typedChanges: DataFrame, keys: Seq[String]): DataFrame =
    appliedState(applyJoin(current, new ApplyKernel(typedChanges), keys),
      current.columns.toSeq, keys)

  /** `current` as of the batch's start (pruned by its TRUNCATE), each
    * non-key column renamed `__cur_<c>` and flagged `__in_cur`: the
    * pre-batch side of [[applyJoin]] and of the view verbs' touched-row
    * feed ([[graft.operators.ChangeHistory.touchedRows]]). */
  private[graft] def preBatch(current: DataFrame, batch: ApplyKernel,
                              keys: Seq[String]): DataFrame = {
    val nonKey = current.columns.toSeq.filterNot(keys.contains)
    batch.prune(current).select(
      keys.map(col) ++ nonKey.map(c => col(c).as(s"__cur_$c")) :+ lit(true).as("__in_cur"): _*)
  }

  /** The apply join of one batch: the [[preBatch]] rows full-outer
    * joined on `keys` with the batch's latest change per key (`op`, the
    * typed columns and `__unchanged`). A row with a NULL `op` is one the
    * batch did not touch. [[appliedState]] lands the post-batch state
    * from it and every view verb of [[graft.operators.ChangeHistory]]
    * folds from its touched rows, so a caller that needs both persists
    * it once. */
  private[graft] def applyJoin(current: DataFrame, batch: ApplyKernel,
                               keys: Seq[String]): DataFrame =
    preBatch(current, batch, keys).join(batch.latest(keys), keys, "full_outer")

  /** The post-batch state of `dataCols` from an [[applyJoin]]:
    * untouched rows pass through, a final D drops, I/U take
    * [[newValue]]. */
  private[graft] def appliedState(joined: DataFrame, dataCols: Seq[String],
                                  keys: Seq[String]): DataFrame =
    joined
      .filter(col("op").isNull || col("op") =!= "D")
      .select(dataCols.map { c =>
        if (keys.contains(c)) col(c) // USING-join key columns are side-coalesced
        else when(col("op").isNull, col(s"__cur_$c")).otherwise(newValue(joined, c)).as(c)
      }: _*)

  /** Non-key column `c` of a touched row of an [[applyJoin]] as the
    * batch leaves it: a cell the change flags UNCHANGED/TOAST keeps
    * the pre-batch value, any other takes the change's. The one
    * resolution the applied state and every view verb share. */
  private[graft] def newValue(joined: DataFrame, c: String): Column =
    if (joined.columns.contains(UnchangedCol))
      when(array_contains(col(UnchangedCol), c) && col("__in_cur"), col(s"__cur_$c"))
        .otherwise(col(c))
    else col(c)
}
