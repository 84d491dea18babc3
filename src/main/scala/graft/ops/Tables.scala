package graft.ops

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table access for the driver's synthetic testdata
  * (`/root/testdata/sf*`, see TESTDATA.md). Every registered query reads
  * the testdata tables through here (batch reads via [[table]], file-stream
  * reads via [[schemaOf]]); the artifacts a query writes and reads back
  * itself (`Dedup`, `Graph`, `Multimodal`, `ScaleOps`, the stream sinks)
  * are read directly. Reads carry a known schema, so construction fires no
  * Spark job, and the scan keeps Catalyst's schema-pruning projection
  * (column pruning reaches the parquet reader).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** One leaf file of a table as the schema memo sees it: a file rewritten
    * in place changes size or mtime, one replaced by a rename changes its
    * `fileKey` (the inode on Linux).
    */
  private final case class LeafFile(path: String, size: Long, modified: FileTime, key: AnyRef)

  private final case class SchemaKey(path: String, parquetConfs: Map[String, String])

  /** Inferred schemas per session, held weakly: a dropped session takes its
    * entries with it. Each (path, confs) keeps the leaf files it was
    * inferred from; a mismatch re-infers and replaces the entry.
    */
  private val schemaMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, (Vector[LeafFile], StructType)]]())

  private def leafFiles(path: String): Vector[LeafFile] = {
    val root = new File(path).getAbsoluteFile.toPath
    if (!Files.exists(root)) Vector.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (a.isRegularFile) Some(LeafFile(p.toString, a.size(), a.lastModifiedTime(), a.fileKey()))
        else None
      }.toVector.sortBy(_.path)
      finally walk.close()
    }
  }

  /** The schema `spark.read.parquet(path).schema` infers, inferred once per
    * session and reused while the table's leaf files (size, mtime, file
    * key) and the session's explicitly set `spark.sql.parquet.*` /
    * `spark.sql.legacy.parquet.*` confs are unchanged: the confs change
    * what inference yields (`nanosAsLong` turns `TIMESTAMP(NANOS)` into
    * BIGINT). Inference is one Spark job per call; a memoised schema costs
    * a stat per leaf file. Only metadata is kept, never a `DataFrame`, so
    * each read still lists the files afresh. A missing, empty or non-local
    * path is inferred every time, so it fails exactly as a plain read does.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val files = leafFiles(path)
    if (files.isEmpty) spark.read.parquet(path).schema
    else {
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }
      val key = SchemaKey(new File(path).getAbsolutePath, confs)
      val memo = schemaMemo.computeIfAbsent(spark, _ => new ConcurrentHashMap())
      Option(memo.get(key)).collect { case (seen, schema) if seen == files => schema }
        .getOrElse {
          val schema = spark.read.parquet(path).schema
          memo.put(key, (files, schema))
          schema
        }
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` has shipped in two parquet encodings across driver drops:
    * TIMESTAMP(NANOS) — which Spark's reader rejects outright, so it is
    * read as a BIGINT via the legacy conf (safe to set unconditionally:
    * it only affects NANOS-typed columns) and rebuilt with integer `div`
    * (a double division would lose precision at 2^53 < ns-epoch) — and
    * plain TIMESTAMP(MICROS), which decodes directly. [[fixEventsTs]]
    * dispatches on the READ schema, so both encodings land on the same
    * session-zoned TimestampType column downstream.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fixEventsTs(table(s, d, "events"))
  }

  /** Normalizes the `ts` column to session-zoned TimestampType whichever
    * way the parquet encoded it (see [[events]]). NTZ → LTZ cast is an
    * identity under the UTC session zone; it keeps every downstream
    * consumer (window(), unix_micros, sink round-trips) on the exact type
    * the engine has always produced.
    */
  def fixEventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _ => df.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** File-stream twin of [[events]]: schema from [[schemaOf]] (the stream
    * source requires an explicit schema), ts normalized identically. The
    * glob narrows the SF dir to the events file (a bare file path fails
    * the stream source's basePath validation).
    */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = schemaOf(s, s"$d/events.parquet")
    fixEventsTs(s.readStream.schema(schema).parquet(s"$d/events*.parquet"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Dataset-dir token for temp-view names: view-registering queries stay
    * pure functions of (spark, sfDir) even when several run concurrently
    * on one session against different dirs.
    */
  def viewSuffix(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  /** Per-PROCESS scratch root under `java.io.tmpdir`/graft_sink, deleted by
    * a JVM shutdown hook: the PID suffix only has to span concurrently-running
    * processes (Verify alongside Bench on the same SF is a normal local
    * workflow), so tying the directory's lifetime to the process keeps
    * repeated runs from accumulating orphaned sink trees.
    */
  private lazy val processScratchRoot: String = {
    val p = new File(System.getProperty("java.io.tmpdir"),
      s"graft_sink/pid_${java.lang.ProcessHandle.current().pid()}").getPath
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val f = new java.io.File(p)
      if (f.exists()) {
        java.nio.file.Files.walk(f.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.delete(q))
      }
    }))
    p
  }

  /** Scratch directory for a per-dataset materialized artifact, cleaned up
    * on JVM exit (see [[processScratchRoot]]). Keyed by [[viewSuffix]] of
    * the FULL dataset path — the same key the build latches use — so two
    * dataset dirs sharing a basename (`/a/sf0.1` vs `/b/sf0.1`) in one JVM
    * get distinct artifact trees instead of silently overwriting each
    * other's parquet.
    *
    * Staleness contract: artifact latches (and the paths handed out here)
    * are once-per-(JVM, dataset-path). Regenerating a dataset dir's
    * CONTENTS mid-session does not invalidate an already-built artifact —
    * a long-lived session that rewrites its inputs must restart (or use a
    * fresh dir) to re-derive standing artifacts. The driver's testdata is
    * immutable, so this is the documented single-generation contract, not
    * a latent bug.
    */
  def processScratch(d: String, name: String): String =
    s"$processScratchRoot/${viewSuffix(d)}/$name"

  /** Total bytes of a parquet table that may be a single FILE or a
    * DIRECTORY of part files — the one stat every input-scaled sizing
    * decision (skew-split cap, bucket count, state shards) reads.
    * Returns 0 for a missing path; the caller owns the failure policy
    * (the skew cap `require`s > 0, the scaling heuristics floor).
    */
  def leafFileBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.filter(_.isFile).map(_.length()).sum)
      .getOrElse(0L)
  }
}

/** One registered engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query
  * over the same parquet tables. Column names and row ordering must match
  * between the two — the driver hash-compares values after sorting columns
  * by name, so every computed column is explicitly aliased and cast to the
  * same type on both sides, and every query ends in a deterministic
  * ORDER BY over a unique key.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GraftQuery {
  def of(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, run, Some(oracle))
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, run, None)

  /** DuckDB replay of [[graft.functions.Md5Hash60]] (bit-identical to
    * Spark's `conv(substr(md5(x),1,15),16,10)`). The ONE definition of
    * the idiom — every oracle uses this helper so copies cannot drift
    * from the engine-side expression's parity contract.
    */
  def h60Sql(e: String): String = s"('0x' || substr(md5($e), 1, 15))::UBIGINT"
}
