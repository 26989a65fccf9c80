package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.derive.Derive
import graft.sinks.Exports

/** Export sinks: frame content, ordering, and the CSV write path. */
class ExportsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = GraftSession.local(4)

  private def today(): String =
    graft.core.Tables.events(spark, sf).agg(max(to_date(col("ts")))).head.getDate(0).toString

  test("ip_rep export round-trips through CSV with ip-order preserved") {
    val rep = Derive.reputationWarden(graft.core.Tables.events(spark, sf), today())
    val frame = Exports.ipRepFrame(rep)
    val out = Files.createTempDirectory("graft-export").toString + "/ip_rep"
    Exports.writeCsv(frame, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == rep.count())
    assert(back.columns.toSeq == Seq("ip", "rep"))
    // dotted-quad rendering of the int entity id
    val ips = back.select("ip").collect().map(_.getString(0))
    assert(ips.forall(_.split("\\.").length == 4))
  }

  test("blocklist keeps only entities above threshold, worst first") {
    val rep = Derive.reputationWarden(graft.core.Tables.events(spark, sf), today())
    val all = rep.count()
    val bl = Exports.blocklistFrame(rep, 0.05)
    val rows = bl.collect()
    assert(rows.length > 0 && rows.length < all)
    val reps = rows.map(_.getDouble(1))
    assert(reps.sameElements(reps.sortBy(-_)), "blocklist must be sorted rep desc")
    assert(reps.forall(_ >= 0.05))
  }

  test("category export filters type shares by category") {
    val shares = Derive.typeShares(graft.core.Tables.events(spark, sf), today())
    val cat = Exports.categoryFrame(shares, "error")
    assert(cat.count() > 0)
    assert(cat.columns.toSeq == Seq("ip", "confidence"))
  }

  test("training-shard JSONL export round-trips every doc with a stable shard") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf)
    val out = java.nio.file.Files.createTempDirectory("graft-shards-spec").toString
    Exports.writeTrainingShards(docs, nShards = 4, out)
    val back = Exports.readTrainingShards(spark, out)
    assert(back.count() == docs.count(), "every doc must survive the round-trip")
    assert(back.select(col("shard")).distinct().count() == 4)
    // payload integrity: parsed text length equals the source length per doc
    val mismatch = back.select(col("doc_id"), col("n_chars").as("rt_chars"))
      .join(docs, Seq("doc_id"))
      .filter(org.apache.spark.sql.functions.length(col("text")) =!= col("rt_chars"))
      .count()
    assert(mismatch == 0, s"$mismatch docs lost payload in JSON round-trip")
    // determinism: a second export lands every doc in the same shard
    val out2 = java.nio.file.Files.createTempDirectory("graft-shards-spec2").toString
    Exports.writeTrainingShards(docs, nShards = 4, out2)
    val diff = back.select(col("doc_id"), col("shard"))
      .except(Exports.readTrainingShards(spark, out2)
        .select(col("doc_id"), col("shard"))).count()
    assert(diff == 0, "shard assignment must be deterministic")
  }
}
