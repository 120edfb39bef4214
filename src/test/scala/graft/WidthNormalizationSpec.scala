package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression guard for generator-owned integral/float WIDTHS — the same
  * risk class as the events `ts` unit flip (r06): a regenerated parquet
  * shipping `doc_id` as int32 or `embedding` as array<double> must load at
  * the canonical types every consumer encodes/joins on, and the today-shaped
  * files must load with their schema untouched (identity casts erased). */
class WidthNormalizationSpec extends SparkSpec {
  import spark.implicits._

  test("canonical files load with unchanged types") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").schema
    assert(docs("doc_id").dataType === LongType)
    assert(docs("n_chars").dataType === LongType)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").schema
    assert(emb("vec_id").dataType === LongType)
    assert(emb("label").dataType === IntegerType)
    assert(emb("embedding").dataType === ArrayType(FloatType))
    val ev = Tables.events(spark, "/root/testdata/sf0.001").schema
    assert(ev("event_id").dataType === LongType)
    assert(ev("user_id").dataType === LongType)
    assert(ev("value").dataType === DoubleType)
  }

  test("width-flipped regenerated files normalize to the canonical types") {
    val dir = tmpDir("width_flip")
    Seq((7, "some text here", "en", "web", 14))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .select(col("doc_id").cast("int").as("doc_id"), col("text"), col("lang"),
              col("source"), col("n_chars").cast("int").as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    Seq((3, Array(0.25, -1.5), 2L))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id").cast("int").as("vec_id"),
              col("embedding").cast("array<double>").as("embedding"),
              col("label").cast("long").as("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    Seq((5, "2023-06-15 12:34:56.789012", 9, "click", 1.5f, "{}"))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id").cast("int").as("event_id"),
              col("tss").cast("timestamp_ntz").as("ts"),
              col("user_id").cast("int").as("user_id"),
              col("event_type"), col("value").cast("float").as("value"),
              col("props"))
      .write.parquet(s"$dir/events.parquet")

    val docs = Tables.documents(spark, dir)
    assert(docs.schema("doc_id").dataType === LongType)
    assert(docs.schema("n_chars").dataType === LongType)
    assert(docs.select($"doc_id", $"n_chars").as[(Long, Long)].head() === ((7L, 14L)))

    val emb = Tables.embeddings(spark, dir)
    assert(emb.schema("vec_id").dataType === LongType)
    assert(emb.schema("label").dataType === IntegerType)
    assert(emb.schema("embedding").dataType === ArrayType(FloatType))
    assert(emb.select($"vec_id", $"label").as[(Long, Int)].head() === ((3L, 2)))
    assert(emb.select($"embedding").as[Array[Float]].head().toSeq === Seq(0.25f, -1.5f))

    val ev = Tables.events(spark, dir)
    assert(ev.schema("event_id").dataType === LongType)
    assert(ev.schema("user_id").dataType === LongType)
    assert(ev.schema("value").dataType === DoubleType)
    assert(ev.select($"event_id", $"user_id", $"value").as[(Long, Long, Double)].head()
      === ((5L, 9L, 1.5)))
  }

  test("props regenerated as a materialized struct normalizes to JSON text") {
    // a generator that parses its own payloads ships props as
    // struct<k: int64>; the engine must read it back at the canonical
    // string width so get_json_object keeps working (propstruct sim)
    val dir = tmpDir("regen_propstruct")
    Seq((5L, "2023-06-15 12:34:56", 9L, "click", 1.5, 87L),
        (6L, "2023-06-15 12:35:56", 9L, "view", 2.5, 12L))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "k")
      .select($"event_id", col("tss").cast("timestamp").as("ts"), $"user_id",
              $"event_type", $"value", struct($"k").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("props").dataType === StringType)
    assert(ev.orderBy($"event_id")
      .select(get_json_object($"props", "$.k").cast("long")).as[Long]
      .collect().toSeq === Seq(87L, 12L))
  }

  test("date columns regenerated as DATE or long epochs normalize to timestamps") {
    // o_orderdate/l_shipdate ship as TIMESTAMP(MICROS) today; a regen could
    // plausibly ship DATE (covered by a plain cast) or a long epoch column
    // (where a plain cast would read SECONDS — the value must go through
    // magnitude inference instead). 2023-06-15T00:00:00Z = 1686787200 s.
    val us = 1686787200000000L
    def check(dir: String): Unit = {
      val od = Tables.load(spark, dir, "orders")
      assert(od.schema("o_orderdate").dataType === TimestampType)
      assert(od.select(unix_micros($"o_orderdate")).as[Long].head() === us)
    }
    val dDate = tmpDir("regen_date")
    Seq((1L, 2L, "O", 10.0, "2023-06-15", "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "ds", "o_orderpriority")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
              col("ds").cast("date").as("o_orderdate"), $"o_orderpriority")
      .write.parquet(s"$dDate/orders.parquet")
    check(dDate)
    for ((unit, v) <- Seq("ms" -> us / 1000L, "s" -> us / 1000000L,
                          "usl" -> us, "nsl" -> us * 1000L)) {
      val d = tmpDir(s"regen_epoch_$unit")
      Seq((1L, 2L, "O", 10.0, v, "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority")
        .write.parquet(s"$d/orders.parquet")
      check(d)
    }
  }
}
