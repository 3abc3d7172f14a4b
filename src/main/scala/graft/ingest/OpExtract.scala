package graft.ingest

import graft.domain.Schemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Block → operation extraction (ingest plane, SURVEY.md §3.2).
  *
  * The reference walks blocks sequentially, per-tx, per-op
  * (src/workers/hive-stream.ts:199-222). Relationally that's two
  * generators: explode(transactions) → posexplode(operations). Block
  * height is decoded from the hex block id prefix exactly like
  * `parseInt(block_id.slice(0,8), 16)` (src/utils.ts:93) — X13.
  *
  * The reference's reorder buffer (utils.ts:55-68) has no equivalent
  * here: op order is carried as (block_height, op_index) columns and
  * restored relationally wherever semantics need it, so extraction
  * stays embarrassingly parallel at any scale.
  */
object OpExtract {

  /** blocks (Schemas.block) → one row per operation:
    * (block_height, ts, trx_id, op_index, op_name, payload,
    * beneficiaries, authority_signed).
    *
    * The last two are the transaction's sibling-op facts (J10,
    * hive-stream.ts:589-620): beneficiaries from the FIRST
    * comment_options op and authority_signed from a 3speak-publish
    * custom_json signed by threespeak. They are expressions over the
    * transaction's own operations array, so reading them costs no
    * second scan, groupBy or join. A consumer that does not read them
    * (follows, votes) has them pruned from its plan; the comment path
    * evaluates them only on the comment ops it keeps. */
  def ops(blocks: DataFrame): DataFrame =
    blocks
      .withColumn("block_height",
        conv(substring(col("block_id"), 1, 8), 16, 10).cast("long"))
      .withColumn("ts", to_timestamp(col("timestamp")))
      .select(col("block_height"), col("ts"),
        explode(col("transactions")).as("tx"))
      .select(col("block_height"), col("ts"),
        col("tx.transaction_id").as("trx_id"),
        beneficiaries(col("tx.operations")).as("beneficiaries"),
        authoritySigned(col("tx.operations")).as("authority_signed"),
        posexplode(col("tx.operations")).as(Seq("op_index", "op")))
      .select(col("block_height"), col("ts"), col("trx_id"),
        col("op_index"),
        col("op.name").as("op_name"),
        col("op.payload").as("payload"),
        col("beneficiaries"), col("authority_signed"))

  /** The first comment_options op's beneficiaries extension: array
    * order is op_index order, so the first one wins when a tx carries
    * several. Null when there is none, or when its extension is
    * missing or malformed. */
  private def beneficiaries(txOps: Column): Column =
    from_json(
      get_json_object(
        try_element_at(
          filter(txOps, o => o.getField("name") === "comment_options"),
          lit(1)).getField("payload"),
        "$.extensions[0][1].beneficiaries"),
      graft.ddl("array<struct<account:string,weight:int>>"))

  private def authoritySigned(txOps: Column): Column =
    exists(txOps, o => coalesce(
      o.getField("name") === "custom_json" &&
        get_json_object(o.getField("payload"), "$.id") ===
          "3speak-publish" &&
        get_json_object(o.getField("payload"),
          "$.required_posting_auths[0]") === "threespeak",
      lit(false)))
}
