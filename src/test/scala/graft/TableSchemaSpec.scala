package graft

import java.nio.file.Files

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.Tables

/** `Tables` resolves a table file's schema once and reads every later
  * load with it declared. These pin what the cache must never change:
  * a rewritten file, a different parquet read conf and a self-join all
  * see what an uncached read would. */
class TableSchemaSpec extends SparkSpec {

  /** Write one parquet FILE (the testdata shape) of `schema` rows,
    * replacing any file at `path`. */
  private def writeFile(path: String, schema: String)(rows: (Group => Unit)*): Unit = {
    val message = MessageTypeParser.parseMessageType(schema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(message).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(message)
    try rows.foreach { fill => val g = groups.newGroup(); fill(g); writer.write(g) }
    finally writer.close()
  }

  test("a table file rewritten at the same path with another schema is seen by the next load") {
    val dir = Files.createTempDirectory("graft-schema").toString
    writeFile(s"$dir/t.parquet", "message t { required int64 a; }")(_.append("a", 1L))
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    writeFile(s"$dir/t.parquet", "message t { required int64 a; required binary b (UTF8); }")(
      _.append("a", 2L).append("b", "two"))
    val t = Tables.load(spark, dir, "t")
    assert(t.columns.toSeq == Seq("a", "b"))
    assert(t.head().getString(1) == "two")
  }

  test("one path read with nanosAsLong on and then off gets each setting's own schema") {
    val dir = Files.createTempDirectory("graft-schema-ns").toString
    val file = s"$dir/ns.parquet"
    writeFile(file, "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")(
      _.append("ts", 1700000000123456789L))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      spark.conf.set(key, "true")
      assert(Tables.schemaOf(spark, file)("ts").dataType == LongType)
      assert(Tables.load(spark, dir, "ns").head().getLong(0) == 1700000000123456789L)
      // off, Spark cannot decode ns timestamps at all: the lookup must
      // fail as a plain read does, not return the LongType schema
      spark.conf.set(key, "false")
      val e = intercept[Exception](Tables.schemaOf(spark, file))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      spark.conf.set(key, "true")
      assert(Tables.schemaOf(spark, file)("ts").dataType == LongType)
    } finally spark.conf.set(key, "true")
  }

  test("inferTimestampNTZ off and on each get their own events schema") {
    val path = s"$sf/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try {
      for ((value, ts) <- Seq("false" -> TimestampType, "true" -> TimestampNTZType,
          "false" -> TimestampType)) {
        spark.conf.set(key, value)
        assert(Tables.schemaOf(spark, path) == spark.read.parquet(path).schema)
        assert(Tables.schemaOf(spark, path)("ts").dataType == ts, s"$key=$value")
      }
    } finally spark.conf.unset(key)
  }

  test("two loads of the same table are separate relations with fresh attribute ids") {
    val a = Tables.events(spark, sf)
    val b = Tables.events(spark, sf)
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    assert(a.join(b, a("event_id") === b("event_id")).count() == a.count())
  }
}
