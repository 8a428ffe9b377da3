package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class JsonlSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  test("JSONL round-trips JSON-hostile content byte-exactly") {
    // every character class JSON must escape: quotes, backslashes,
    // embedded newlines/tabs (must NOT split the line), unicode, and the
    // empty string; null survives as JSON null
    val rows = Seq(
      (1L, """he said "hi" and left"""),
      (2L, "back\\slash and C:\\path\\file"),
      (3L, "line one\nline two\r\nline three"),
      (4L, "tab\there, über naïve café \u00e9"),
      (5L, ""),
      (6L, null)
    )
    val df = rows.toDF("id", "text")
    val dir = tempDir("graft_jsonl_spec").toString
    try {
      Jsonl.write(df, dir)
      val back = Jsonl.read(spark, dir, schema)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
        .toSet
      assert(back == rows.toSet)
    } finally graft.etl.Context.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("schema-explicit read nulls a corrupt line instead of failing") {
    val dir = tempDir("graft_jsonl_bad").toString
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
        "{\"id\": 1, \"text\": \"ok\"}\nnot json at all\n{\"id\": 2, \"text\": \"also ok\"}\n"
          .getBytes("UTF-8"))
      // PERMISSIVE (default): the corrupt line nulls out instead of killing
      val rows = Jsonl.read(spark, dir, schema).collect()
      assert(rows.length == 3)
      assert(rows.count(_.isNullAt(0)) == 1)
    } finally graft.etl.Context.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
