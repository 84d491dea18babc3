package graft

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.dwca.DwcaArchive

/** The `dwca` source extracts a zip once and reuses the extraction only
  * while the zip is unchanged and the extraction is still there.
  */
class DwcaSourceMemoSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val fixture = new File(TestSpark.resourcePath("/occurrence_archives/dwca-simple"))

  /** Writes (or rewrites in place) `zip` with the fixture's meta.xml and a
    * core of `rows` records.
    */
  private def writeZip(zip: File, rows: Int): Unit = {
    val header :: body = Files.readAllLines(new File(fixture, "occurrence.txt").toPath)
      .toArray(Array.empty[String]).toList
    val core = header +: (0 until rows).map(i => body(i % body.size).replaceFirst("^[^,]*", s"$i"))
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    try {
      zos.putNextEntry(new ZipEntry("meta.xml"))
      Files.copy(new File(fixture, "meta.xml").toPath, zos)
      zos.closeEntry()
      zos.putNextEntry(new ZipEntry("occurrence.txt"))
      zos.write(core.mkString("", "\n", "\n").getBytes(UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  private def newZip(rows: Int): File = {
    val zip = File.createTempFile("source-memo", ".zip")
    zip.deleteOnExit()
    writeZip(zip, rows)
    zip
  }

  private def count(zip: File): Long =
    spark.read.format("dwca").option("path", zip.getAbsolutePath).load().count()

  /** The `dwca-*` extraction directories under java.io.tmpdir. */
  private def extractions(): Set[File] =
    new File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dwca-")).toSet

  /** The extraction directories `body` leaves behind. */
  private def extractedBy(body: => Unit): Set[File] = {
    val before = extractions()
    body
    extractions() -- before
  }

  test("an unchanged zip read twice is extracted once") {
    val zip = newZip(7)
    val made = extractedBy { assert(count(zip) == 7); assert(count(zip) == 7) }
    assert(made.size == 1, made)
  }

  test("a deleted extraction is extracted again on the next read") {
    val zip = newZip(6)
    val first = extractedBy(assert(count(zip) == 6))
    assert(first.size == 1)
    first.foreach(DwcaArchive.deleteTree)
    val second = extractedBy(assert(count(zip) == 6))
    assert(second.size == 1 && second != first)
  }

  test("a zip rewritten in place is read afresh and its old extraction deleted") {
    val zip = newZip(5)
    val first = extractedBy(assert(count(zip) == 5))
    writeZip(zip, 9)
    val second = extractedBy(assert(count(zip) == 9))
    assert(second.size == 1)
    assert(first.forall(!_.exists()), "the stale extraction was left behind")
  }

  test("the extractions still memoized at JVM exit are deleted") {
    // A child JVM with its own java.io.tmpdir: the hook runs at its exit.
    val tmp = Files.createTempDirectory("source-memo-exit").toFile
    val zip = newZip(4)
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val child = new ProcessBuilder(java, s"-Djava.io.tmpdir=${tmp.getPath}",
      "-cp", System.getProperty("java.class.path"), "graft.ExtractionExitProbe", zip.getPath)
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes()).trim
    assert(child.waitFor() == 0, out)
    val made = out.linesIterator.toSeq.last.split(",").filter(_.nonEmpty).map(new File(_))
    assert(made.nonEmpty && made.forall(_.toPath.startsWith(tmp.toPath)), out)
    assert(made.forall(!_.exists()), s"left behind: ${made.mkString(", ")}")
    DwcaArchive.deleteTree(tmp)
  }
}

/** Resolves the zip `args(0)` through the `dwca` source, as `load()` does,
  * and prints the extraction directories that then exist under
  * java.io.tmpdir; the source's exit hook should then delete them.
  */
object ExtractionExitProbe {
  def main(args: Array[String]): Unit = {
    val options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", args(0)))
    require(new graft.sources.DwcaDataSource().inferSchema(options).fieldNames.contains("id"))
    println(new File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dwca-")).map(_.getPath).mkString(","))
  }
}
