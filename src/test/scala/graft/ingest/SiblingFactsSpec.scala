package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayExists, ArrayFilter}
import org.apache.spark.sql.functions._

/** The sibling-op facts `OpExtract.ops` computes from each
  * transaction's own operations array, against the per-batch groupBy +
  * left join they replaced (kept here as the reference form). */
class SiblingFactsSpec extends SparkSpec {
  import Fixtures._

  /** The replaced form: one groupBy over the ops, joined back to the
    * comment ops on (block_height, trx_id). */
  private def referenceFacts(ops: DataFrame): DataFrame = {
    val plain = ops.drop("beneficiaries", "authority_signed")
    val facts = plain.groupBy("block_height", "trx_id").agg(
      from_json(
        min_by(when(col("op_name") === "comment_options",
          get_json_object(col("payload"),
            "$.extensions[0][1].beneficiaries")),
          when(col("op_name") === "comment_options", col("op_index"))),
        graft.ddl("array<struct<account:string,weight:int>>"))
        .as("beneficiaries"),
      max(when(col("op_name") === "custom_json" &&
        get_json_object(col("payload"), "$.id") === "3speak-publish" &&
        get_json_object(col("payload"),
          "$.required_posting_auths[0]") === "threespeak",
        lit(true)).otherwise(false)).as("authority_signed"))
    plain.filter(col("op_name") === "comment")
      .join(facts, Seq("block_height", "trx_id"), "left")
  }

  private def factRows(commentOps: DataFrame): Seq[String] =
    commentOps.select(col("block_height"), col("trx_id"),
        col("op_index"), to_json(col("beneficiaries")).as("b"),
        coalesce(col("authority_signed"), lit(false)).as("signed"))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def benef(account: String, weight: Int = 1000): String =
    s"""{"author":"x","permlink":"y","extensions":[[0,""" +
      s"""{"beneficiaries":[{"account":"$account","weight":$weight}]}]]}"""

  private def publish(signer: String): String =
    """{"id":"3speak-publish","required_posting_auths":[""" +
      js(signer) + """],"json":"{}"}"""

  private val twice = block(500, "2024-05-01T12:00:00",
    ("dup", Seq(("comment", comment("dora", "d1", "dup body")),
      ("comment_options", benef("dup-benef")))))

  private lazy val ops = toOps(spark,
    block(400, "2024-05-01T11:00:00",
      // two comment_options: the first by op_index wins, although the
      // second's payload sorts first
      ("first", Seq(("comment_options", benef("zeta")),
        ("comment", comment("amy", "a1", "body")),
        ("comment_options", benef("alpha")))),
      ("signed", Seq(("comment", comment("ben", "b1", "body")),
        ("custom_json", publish("threespeak")))),
      ("other-signer", Seq(("comment", comment("cat", "c1", "body")),
        ("custom_json", publish("mallory")))),
      ("alone", Seq(("comment", comment("dan", "e1", "body")))),
      ("no-ext", Seq(("comment", comment("eve", "f1", "body")),
        ("comment_options", """{"author":"eve","extensions":[]}"""))),
      ("malformed", Seq(("comment", comment("fay", "g1", "body")),
        ("comment_options",
          """{"extensions":[[0,{"beneficiaries":"not-a-list"}]]}"""))),
      ("two-comments", Seq(("comment", comment("gil", "h1", "body")),
        ("comment", comment("gil", "h2", "body")),
        ("custom_json", publish("threespeak")),
        ("comment_options", benef("gil-benef"))))),
    // the same block delivered twice in one batch
    twice, twice)

  test("in-array sibling facts equal the groupBy + join reference") {
    val got = factRows(ops.filter(col("op_name") === "comment"))
    assert(got.size == 10)
    assert(got == factRows(referenceFacts(ops)))
  }

  test("in-array sibling facts: first comment_options wins, only a " +
    "threespeak-signed 3speak-publish signs, missing or malformed " +
    "extensions are null") {
    val byPermlink = PostsIngest.commentEvents(ops)
      .select(col("permlink"), to_json(col("beneficiaries")),
        col("authority_signed"))
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getBoolean(2))).toSeq
    val facts = byPermlink.toMap
    def benefOf(a: String) = Some(s"""[{"account":"$a","weight":1000}]""")
    assert(facts("a1") == (benefOf("zeta"), false))
    assert(facts("b1") == (None, true))
    assert(facts("c1") == (None, false))
    assert(facts("e1") == (None, false))
    assert(facts("f1") == (None, false))
    assert(facts("g1") == (None, false))
    assert(facts("h1") == (benefOf("gil-benef"), true))
    assert(facts("h2") == (benefOf("gil-benef"), true))
    assert(byPermlink.filter(_._1 == "d1").map(_._2) ==
      Seq.fill(2)((benefOf("dup-benef"), false)))
  }

  test("a consumer that does not read the facts plans none of them") {
    val plan = GraphIngest.follows(ops).queryExecution.optimizedPlan
    val factExprs = plan.flatMap(_.expressions).flatMap(_.collect {
      case e @ (_: ArrayExists | _: ArrayFilter) => e })
    assert(factExprs.isEmpty, plan.treeString)
    assert(!plan.flatMap(_.output).exists(a =>
      Set("beneficiaries", "authority_signed")(a.name)))
  }
}
