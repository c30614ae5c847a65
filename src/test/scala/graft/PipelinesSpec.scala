package graft

import org.apache.spark.sql.functions.timestamp_seconds
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.Pipelines

/** Golden fixtures F3 (weblog) and F6 (lookup) from FIXTURES.md. */
class PipelinesSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("F3 weblog mean duration by country matches golden") {
    val weblog = Seq(
      ("10.0.0.1", "2022-01-01T10:00:00", "2022-01-01T10:05:30"),
      ("10.0.0.1", "2022-01-01T11:00:00", "2022-01-01T11:01:00"),
      ("192.168.7.9", "2022-01-01T09:30:00", "2022-01-01T09:40:00"))
      .toDF("ip", "visit_start", "visit_end")
    val ipCountry = Seq(("10.0.0.1", "France"), ("192.168.7.9", "Japan")).toDF("ip", "country")
    val out = Pipelines.weblogMeanDurationByCountry(weblog, ipCountry)
      .orderBy("country").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(out === Seq(("France", 195.0), ("Japan", 600.0)))
  }

  test("pipeline_weblog rounds an exact 3-decimal tie of the mean half-up") {
    // nation 0: 40 users, 39 sessions of 1 s and one of 2 s, mean exactly
    // 41 / 40 = 1.025, whose nearest double lies below the tie (rounding the
    // binary value gives 1.02, as DuckDB's round of a DOUBLE does, so the
    // oracle SQL rounds the decimal mean); nation 1: one 7 s session, no tie
    val users = (0 until 40).map(i => (25L * i, if (i == 0) 2L else 1L)) :+ ((1L, 7L))
    val dir = java.nio.file.Files.createTempDirectory("graft-weblog-tie").toString
    users.flatMap { case (u, d) => Seq((u, 1000000L), (u, 1000000L + d)) }
      .toDF("user_id", "epoch_s")
      .select($"user_id", timestamp_seconds($"epoch_s").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    Seq((0, "ALGERIA"), (1, "ARGENTINA")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    val out = SparkEntry.queries("pipeline_weblog")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(out === Seq(("ALGERIA", 1.03), ("ARGENTINA", 7.0)))
  }

  test("F5/F6 NYC neighbourhood counts with enrichment") {
    val listings = Seq(("2539", "Kensington"), ("3831", "Kensington"), ("2595", "Midtown"))
      .toDF("id", "neighbourhood")
    val dim = Seq(("Kensington", 70000L, 1056L, 45.2), ("Midtown", 28000L, 1773L, 78.9))
      .toDF("neighbourhood", "population", "house_price_sq_ft", "coll_edu_percentage")
    val out = Pipelines.nycNeighbourhoodCounts(listings, dim)
    assert(out.columns.toSeq === Seq("neighbourhood", "count_listings", "population",
      "house_price_sq_ft", "coll_edu_percentage"))
    val rows = out.orderBy("neighbourhood").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq(("Kensington", 2L, 70000L), ("Midtown", 1L, 28000L)))
  }

  private val dim = Seq(
    ("Kensington", 70000L, 1056L, 45.2), ("Midtown", 28000L, 1773L, 78.9))
    .toDF("neighbourhood", "population", "house_price_sq_ft", "coll_edu_percentage")

  test("F6 lookup hit is case-insensitive (both variants)") {
    for (fn <- Seq(Pipelines.Lookup.flask _, Pipelines.Lookup.fastapi _)) {
      val r = fn(dim, "kEnSiNgToN").collect().head
      assert(r.getString(0) === "Kensington" && r.getLong(1) === 70000L)
    }
  }

  test("curate: language, quality, and dedup gates all apply before chunking") {
    val en = Array.fill(6)("the cat sat on a mat and it is big for now").mkString(" ")
    val docs = Seq(
      (1L, en),                                     // survives → chunks
      (2L, en),                                     // exact dup of 1 → dropped
      (3L, "der hund ist nicht mit auf zu und das der die"), // German → dropped
      (4L, "the!!!!!!!!!!!!!!!!!!!!! a")) // en but quality 0.25: short, punct-heavy, ratio>12
      .toDF("doc_id", "text")
    val out = Pipelines.curate(docs).select("doc_id", "chunk_idx", "n_chunk_tokens")
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // 72 tokens → chunks at stride 40: [0,50) and [40,72)
    assert(out === Seq((1L, 0L, 50), (1L, 1L, 32)))
  }

  test("F6 miss: Flask echoes name, FastAPI says Not found, both zero-fill") {
    val flask = Pipelines.Lookup.flask(dim, "Atlantis").collect().head
    assert(flask.getString(0) === "Atlantis" && flask.getLong(1) === 0L)
    val fast = Pipelines.Lookup.fastapi(dim, "Atlantis").collect().head
    assert(fast.getString(0) === "Not found" && fast.getLong(1) === 0L
      && fast.getDouble(3) === 0.0)
  }
}
