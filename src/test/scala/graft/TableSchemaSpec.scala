package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Tables

/** A testdata table's parquet schema is inferred once per session and
  * reused while its files and the session's parquet confs are unchanged:
  * building a query then fires no Spark job, and every reuse reads the
  * schema a fresh `spark.read.parquet` would infer.
  */
class TableSchemaSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs started while `body` runs. A sentinel job run after `body`
    * in the same job group bounds the wait: the listener bus delivers job
    * starts in order, so once the sentinel is seen every earlier job is.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"table-schema-${System.nanoTime()}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construction")
      try {
        body
        sc.setJobDescription("sentinel")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("sentinel"), "listener missed the sentinel job")
    } finally sc.removeSparkListener(listener)
    started.size() - 1
  }

  private def tempDir(): File = {
    val d = Files.createTempDirectory("table-schema").toFile
    d.deleteOnExit()
    d
  }

  /** A single-file parquet table at `target`, written by Spark from `sql`. */
  private def writeTable(s: SparkSession, target: File, sql: String): Unit = {
    val out = new File(tempDir(), "out")
    s.sql(sql).coalesce(1).write.parquet(out.getPath)
    val part = out.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  test("building a table a second time on one session fires no Spark job") {
    val s = spark.newSession()
    assert(jobsDuring(s.read.parquet(s"$sf/lineitem.parquet")) >= 1,
      "schema inference should fire a job, or this probe measures nothing")
    Tables.lineitem(s, sf)
    var n = -1L
    assert(jobsDuring { n = Tables.lineitem(s, sf).queryExecution.analyzed.output.size } == 0)
    assert(n == s.read.parquet(s"$sf/lineitem.parquet").columns.length)
  }

  test("the memoised schema is the one a fresh read infers, under either nanosAsLong") {
    val dir = tempDir()
    val pq = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new HPath(new File(dir, "nanos.parquet").getPath))
      .withType(pq).build()
    val g = new SimpleGroupFactory(pq)
    try (0 until 3).foreach(i => w.write(g.newGroup().append("id", i.toLong)
      .append("ts", 1700000000000000000L + i)))
    finally w.close()
    val nanos = s"${dir.getPath}/nanos.parquet"
    val s = spark.newSession()
    for (flag <- Seq("true", "false", "true")) {
      s.conf.set(NanosAsLong, flag)
      for (t <- Seq("events", "lineitem"))
        assert(Tables.table(s, sf, t).schema == s.read.parquet(s"$sf/$t.parquet").schema, s"$t, $flag")
      if (flag == "true") {
        assert(Tables.table(s, dir.getPath, "nanos").schema == s.read.parquet(nanos).schema)
        assert(Tables.table(s, dir.getPath, "nanos").schema("ts").dataType == LongType)
        assert(Tables.table(s, dir.getPath, "nanos").count() == 3)
      } else {
        // a NANOS column is unreadable without the flag: the memo built
        // under "true" must not hide that
        val fresh = intercept[Exception](s.read.parquet(nanos))
        val memo = intercept[Exception](Tables.table(s, dir.getPath, "nanos"))
        assert(memo.getClass == fresh.getClass)
      }
    }
  }

  test("a table rewritten at the same path with an extra column is read afresh") {
    val s = spark.newSession()
    val dir = tempDir()
    val t = new File(dir, "t.parquet")
    writeTable(s, t, "SELECT id FROM range(5)")
    assert(Tables.table(s, dir.getPath, "t").columns.toSeq == Seq("id"))
    writeTable(s, t, "SELECT id, id * 2 AS twice FROM range(7)")
    val df = Tables.table(s, dir.getPath, "t")
    assert(df.columns.toSeq == Seq("id", "twice"))
    assert(df.where("twice = id * 2").count() == 7)
  }

  test("a missing table fails as a plain read does, and is read once it appears") {
    val s = spark.newSession()
    val dir = tempDir()
    val fresh = intercept[AnalysisException](s.read.parquet(s"${dir.getPath}/late.parquet"))
    val memo = intercept[AnalysisException](Tables.table(s, dir.getPath, "late"))
    assert(memo.getClass == fresh.getClass)
    assert(memo.getCondition == fresh.getCondition)
    writeTable(s, new File(dir, "late.parquet"), "SELECT id FROM range(4)")
    assert(Tables.table(s, dir.getPath, "late").count() == 4)
  }

  test("a new session with other parquet confs infers its own schema") {
    val first = spark.newSession()
    assert(Tables.events(first, sf).schema("ts").dataType == TimestampType)
    assert(Tables.table(first, sf, "events").schema("ts").dataType == TimestampNTZType)
    val second = first.newSession()
    second.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val fresh = second.read.parquet(s"$sf/events.parquet").schema
    assert(fresh("ts").dataType == TimestampType)
    assert(Tables.table(second, sf, "events").schema == fresh)
  }

  test("process scratch lies under java.io.tmpdir and goes with the process") {
    // A child JVM, so java.io.tmpdir can point away from /tmp: the scratch
    // root is fixed once per process.
    val tmp = tempDir().getCanonicalFile
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val child = new ProcessBuilder(java, s"-Djava.io.tmpdir=${tmp.getPath}",
      "-cp", System.getProperty("java.class.path"), "graft.ScratchRootProbe", sf, "probe")
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes()).trim
    assert(child.waitFor() == 0, out)
    val scratch = new File(out.linesIterator.toSeq.last)
    assert(scratch.toPath.startsWith(new File(tmp, "graft_sink").toPath), out)
    assert(scratch.getParentFile.getParentFile.getName == s"pid_${child.pid()}")
    assert(!scratch.getParentFile.getParentFile.exists(), "the shutdown hook left the scratch root")
  }
}

/** Creates a file under `Tables.processScratch(args(0), args(1))` and prints
  * that directory; the process's shutdown hook should then delete it.
  */
object ScratchRootProbe {
  def main(args: Array[String]): Unit = {
    val dir = new File(Tables.processScratch(args(0), args(1)))
    require(dir.mkdirs() && new File(dir, "part-0").createNewFile())
    println(dir.getPath)
  }
}
