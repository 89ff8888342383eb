package graft

import graft.codecs.Codecs
import graft.core.{IO, Tables}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Parquet reads start no schema-inference job: a codec `load` declares
  * its stored schema, and a `Tables` read passes the schema Spark
  * inferred the first time it read the unchanged file listing. A
  * `Tables.count` of an unchanged listing is memoized the same way. */
class ReadJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobs[T](body: => T): (T, Int) = TestSpark.jobs(body) match {
    case (out, started) => (out, started.size)
  }

  test("decode(load) of every codec through the noop sink is exactly one Spark job") {
    val dir = IO.scratchDir("graft-loadjobs")
    val raw = graft.gen.EventsGenerator.generate(spark, 512, 0.3)
    for ((name, codec) <- Codecs.all) {
      codec.flush(codec.encode(raw), s"$dir/$name")
      val (_, n) = jobs(codec.decode(codec.load(spark, s"$dir/$name"))
        .write.format("noop").mode("overwrite").save())
      assert(n == 1, s"$name: decode(load) started $n Spark jobs")
    }
  }

  test("a repeat Tables read of an unchanged dir starts no Spark job") {
    val dir = IO.scratchDir("graft-tablerepeat")
    Seq((1L, "x")).toDF("o_orderkey", "o_orderstatus").write.parquet(s"$dir/orders.parquet")
    // a LocalDateTime column is stored as TIMESTAMP(MICROS) NTZ, one of
    // the events `ts` layouts Tables.storedEvents accepts
    Seq((1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0))).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    for (name <- Seq("orders", "events")) {
      val first = Tables(spark, dir, name).schema
      val (again, n) = jobs(Tables(spark, dir, name).schema)
      assert(n == 0, s"a second $name read ran schema inference again")
      assert(again == first, name)
    }
  }

  test("a rewritten Tables path is inferred afresh") {
    val dir = IO.scratchDir("graft-tablememo")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(jobs(Tables(spark, dir, "t"))._2 == 1, "a first read infers its schema in one job")
    assert(jobs(Tables(spark, dir, "t"))._2 == 0, "an unchanged path must hit the memo")
    Seq((2.5, true, "b")).toDF("x", "flag", "s").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq == Seq("x", "flag", "s"))
    assert(again.collect().toSeq == Seq(Row(2.5, true, "b")))
  }

  test("a repeat Tables.count of an unchanged dir starts no job; a rewritten one recounts") {
    val dir = IO.scratchDir("graft-countmemo")
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$dir/t.parquet")
    val (n, first) = jobs(Tables.count(spark, dir, "t"))
    assert(n == 3L && first > 0, s"a first count reads the table: $n rows, $first jobs")
    assert(jobs(Tables.count(spark, dir, "t")) == (3L, 0),
      "a repeat count of an unchanged dir must hit the memo")
    Seq(4L, 5L).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (again, recount) = jobs(Tables.count(spark, dir, "t"))
    assert(again == 2L && recount > 0, s"a rewritten dir must be counted afresh: $again rows, $recount jobs")
  }

  test("Tables.count does not memoize a partitioned table; a rewrite inside a partition is counted") {
    val dir = IO.scratchDir("graft-countparts")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
      .write.partitionBy("p").parquet(s"$dir/t.parquet")
    assert(jobs(Tables.count(spark, dir, "t"))._1 == 3L)
    val (n, repeat) = jobs(Tables.count(spark, dir, "t"))
    assert(n == 3L && repeat > 0, s"a partitioned table is counted on every call: $n rows, $repeat jobs")
    // replace p=a's files only; the top-level listing may not change
    Seq(4L).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet/p=a")
    assert(jobs(Tables.count(spark, dir, "t"))._1 == 2L,
      "a rewrite inside a partition directory must be counted")
  }
}
