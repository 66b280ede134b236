package graft

import org.apache.spark.sql.functions._

import graft.functions.Text

/** The native `WordShingles` expression behind [[Text.shingles]]: SQL
  * `trim` + split-on-space semantics, null-safe, type-checked at analysis
  * and compiled into whole-stage codegen. */
class WordShinglesExprSpec extends SparkSpecBase {

  import spark.implicits._

  private val texts = Seq(
    (1L, Option("a b c d")),
    (2L, Option("  a  b  ")),
    (3L, Option("\ta b c")),
    (4L, Option("a b c\n")),
    (5L, Option("中文 😀 naïve")),
    (6L, Option("a")),
    (7L, Option("")),
    (8L, Option.empty[String])).toDF("id", "t")

  private val expected2: Map[Long, Seq[String]] = Map(
    1L -> Seq("a b", "b c", "c d"),
    // runs of spaces keep their empty tokens, as split(trim(t), ' ') does
    2L -> Seq("a ", " b"),
    // SQL trim strips spaces only: the tab stays inside the first token
    3L -> Seq("\ta b", "b c"),
    4L -> Seq("a b", "b c\n"),
    5L -> Seq("中文 😀", "😀 naïve"),
    6L -> Seq.empty,
    7L -> Seq.empty)

  private def check(rows: Array[org.apache.spark.sql.Row]): Unit = {
    assert(rows.length === 8)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id == 8L) assert(r.isNullAt(1), "null text must give null")
      else assert(r.getSeq[String](1) === expected2(id), s"id $id")
    }
  }

  test("shingles of width 2: SQL trim, empty tokens kept, null in → null out") {
    check(texts.select(col("id"), Text.shingles(col("t"), 2)).orderBy("id").collect())
  }

  test("expression participates in whole-stage codegen") {
    // a local relation would be evaluated on the driver — go through parquet
    val dir = java.nio.file.Files.createTempDirectory("graft_wsexpr").toString
    texts.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(col("id"), Text.shingles(col("t"), 2).as("sh"))
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [id#") && plan.contains("word_shingles("), s"plan:\n$plan")
    check(df.orderBy("id").collect())
  }

  test("non-string argument fails analysis") {
    val ex = intercept[Exception](texts.select(Text.shingles(col("id"), 2)).collect())
    assert(ex.getMessage.contains("word_shingles"), ex.getMessage)
  }

  test("width below 1 is rejected") {
    intercept[IllegalArgumentException](Text.shingles(col("t"), 0))
  }
}
