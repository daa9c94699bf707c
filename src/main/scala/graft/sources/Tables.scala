package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Loaders for the shared testdata tables.
  *
  * Each loader is a plain parquet scan; Catalyst pushes filters and
  * prunes columns into it, so operators downstream never pay for
  * columns they do not read. On a cluster the same loaders read
  * partitioned directories transparently.
  *
  * [[schemaOf]] is the one place a table's schema is resolved. Parquet
  * schema inference runs a Spark job, so the schema of a table FILE is
  * inferred once and kept per (path, file length, mtime, the session's
  * schema-relevant parquet read confs); every load then reads with that
  * schema declared. A rewritten file changes its length or mtime and is
  * inferred afresh. The cache holds a `StructType` only: every load is a
  * new relation with fresh attribute ids, so self-joins stay
  * unambiguous. Directories are inferred on every call, because the
  * root mtime does not see appends inside nested partitions; for the
  * same reason [[IO.readParquet]], which reads written datasets, is not
  * cached.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  /** `events.ts` has shipped in two physical layouts: nanosecond-precision
    * parquet (which Spark's vectorized reader rejects outright,
    * [PARQUET_TYPE_ILLEGAL] — read as raw nanos-since-epoch via the legacy
    * nanosAsLong conf and truncated to µs, matching DuckDB's own µs
    * truncation of ns parquet) and plain microsecond timestamps (read
    * directly). Dispatch on the decoded type of `ts`: with nanosAsLong set,
    * a ns file surfaces as LongType and a µs file as TimestampType, so the
    * branch is unambiguous. Any new code path reading events.parquet must
    * go through this loader. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // µs file without UTC adjustment decodes as NTZ; downstream
        // operators (unix_micros, watermarks) need ltz TIMESTAMP. Under
        // the UTC session timezone this cast is instant-preserving and
        // matches DuckDB's naive-timestamp reading of the same file.
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  def load(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fileSchema(s, path) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None         => s.read.parquet(path)
    }
  }

  /** The schema a plain parquet read of `path` would infer. */
  def schemaOf(s: SparkSession, path: String): StructType =
    fileSchema(s, path).getOrElse(s.read.parquet(path).schema)

  /** Confs that change what parquet schema inference returns. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (qualified path, conf values) → (file length, mtime, schema). One
    * entry per path and conf setting, replaced when the file changes. */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[(String, Seq[Option[String]]), (Long, Long, StructType)]

  /** The cached schema of a parquet FILE, inferred on first sight of
    * this (path, length, mtime, confs); None for a directory or a
    * missing path (whose plain read reports the usual error). */
  private def fileSchema(s: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      val key = (st.getPath.toString, schemaConfs.map(s.conf.getOption))
      schemas.get(key) match {
        case Some((len, mtime, schema)) if len == st.getLen && mtime == st.getModificationTime =>
          schema
        case _ =>
          val schema = s.read.parquet(path).schema
          schemas.put(key, (st.getLen, st.getModificationTime, schema))
          schema
      }
    }
  }

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
