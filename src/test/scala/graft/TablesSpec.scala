package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.SparkSpec.countingJobs
import graft.sources.Tables

/** The source layer's schema cache: a table's parquet schema is inferred
  * on the first read of its file and reused after that. */
class TablesSpec extends SparkSpec {

  /** A scratch directory holding a copy of the corpus table `from` as
    * `name.parquet`, so its first read is this suite's. */
  private def copyOf(from: String, name: String = "t") = {
    val dir = Files.createTempDirectory("graft-tables")
    copyInto(dir, from, name)
    dir
  }

  private def copyInto(dir: java.nio.file.Path, from: String, name: String) =
    Files.copy(java.nio.file.Paths.get(s"$sf/$from.parquet"),
      dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("only the first read of a table infers its schema: a second load, " +
      "also from a new session, starts no Spark job") {
    val dir = copyOf("orders").toString
    val (first, inferring) = countingJobs(Tables.load(spark, dir, "t"))
    assert(inferring > 0, "the first read did not infer")
    val (again, reads) = countingJobs(Seq(Tables.load(spark, dir, "t"),
      Tables.load(spark.newSession(), dir, "t")))
    assert(reads == 0, s"the second and third load started $reads jobs")
    again.foreach(df => assert(df.schema == first.schema))
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = copyOf("nation")
    val before = Tables.load(spark, dir.toString, "t")
    assert(before.columns.contains("n_nationkey"))
    copyInto(dir, "region", "t")
    val after = Tables.load(spark, dir.toString, "t")
    val region = spark.read.parquet(s"$sf/region.parquet")
    assert(after.schema == region.schema)
    assert(sortedRows(after) == sortedRows(region))
  }

  test("every corpus table's cached read equals a plain parquet read: " +
      "schema, output attributes and rows") {
    def attrs(df: DataFrame) = df.queryExecution.optimizedPlan.output
      .map(a => (a.name, a.dataType, a.nullable, a.metadata))
    Tables.corpus.foreach { t =>
      Tables.loadRaw(spark, sf, t)
      val (cached, n) = countingJobs(Tables.loadRaw(spark, sf, t))
      assert(n == 0, s"$t: the cached read started $n jobs")
      val plain = spark.read.parquet(s"$sf/$t.parquet")
      assert(cached.schema == plain.schema, t)
      assert(attrs(cached) == attrs(plain), t)
      assert(sortedRows(cached) == sortedRows(plain), t)
    }
  }

  test("events.ts is TimestampType on a cached read, and a session that " +
      "infers timestamps differently gets its own schema") {
    val dir = copyOf("events", "events").toString
    Tables.load(spark, dir, "events")
    assert(Tables.load(spark, dir, "events").schema("ts").dataType ==
      TimestampType)
    assert(Tables.loadRaw(spark, dir, "events").schema("ts").dataType ==
      TimestampNTZType)
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.loadRaw(ltz, dir, "events").schema("ts").dataType ==
      TimestampType)
  }
}
