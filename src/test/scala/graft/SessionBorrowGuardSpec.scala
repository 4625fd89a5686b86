package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The shared session is borrowed one way: its conf is written only by
  * `GraftSession.withConf` (and `IOQueries.ensureCatalog`, which
  * registers the catalog for good), and a stream is drained into a
  * memory sink only by `Events.runToMemory`; a checkpoint is taken and
  * freed only by `CheckpointIds`. Reads `src/main/scala`.
  */
class SessionBorrowGuardSpec extends AnyFunSuite {
  import SessionBorrowGuardSpec._

  private lazy val sources: Seq[(String, Seq[String])] = {
    val root = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail(s"no src/main/scala above ${sys.props("user.dir")}"))
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.map((p: Path) => root.relativize(p).toString -> Files.readAllLines(p).asScala.toSeq)
  }

  test("the detector tells session-conf writes from Hadoop ones") {
    val lines = Seq(
      "object X {",
      "  def a(spark: SparkSession): Unit = spark.conf.set(\"k\", \"v\")",
      "  def b(batch: DataFrame): Unit = {",
      "    val s2 = batch.sparkSession",
      "    s2.conf.unset(\"k\")",
      "  }",
      "  def c(): Unit = {",
      "    val conf = new org.apache.hadoop.conf.Configuration(false)",
      "    conf.set(\"k\", \"v\") // spark.conf.set in a comment",
      "    * spark.conf.set in a scaladoc",
      "  }",
      "  private[graft] def d(spark: SparkSession): Unit = {",
      "    val c = spark.conf",
      "    c.unset(\"k\")",
      "  }",
      "}")
    assert(sites(lines, sessionConfWrite).map(_._1) == Seq("a", "b", "d"))
  }

  test("the session conf is written only in GraftSession.withConf and IOQueries.ensureCatalog") {
    val found = sources.flatMap { case (file, lines) =>
      sites(lines, sessionConfWrite).map { case (member, line) => (file, member, line) }
    }
    val allowed = Set(
      "graft/GraftSession.scala" -> "withConf",
      "graft/queries/IOQueries.scala" -> "ensureCatalog")
    val stray = found.filterNot { case (file, member, _) => allowed((file, member)) }
    if (stray.nonEmpty) fail(stray.map { case (f, m, l) => s"$f ($m): $l" }
      .mkString("conf written outside the scope:\n", "\n", ""))
    assert(found.map(f => (f._1, f._2)).toSet == allowed, "the guard sees no write where writes are")
  }

  test("a memory sink is written only by Events.runToMemory") {
    val found = sources.flatMap { case (file, lines) =>
      sites(lines, memorySink).map { case (member, _) => (file, member) }
    }
    assert(found == Seq("graft/streaming/Events.scala" -> "runToMemory"))
  }

  test("a checkpoint is taken and freed only in CheckpointIds") {
    val found = sources.flatMap { case (file, lines) =>
      sites(lines, checkpointCall).map { case (_, line) => (file, line) }
    }
    val owner = "org/apache/spark/sql/graft/CheckpointIds.scala"
    val stray = found.filterNot(_._1 == owner)
    if (stray.nonEmpty) fail(stray.map { case (f, l) => s"$f: $l" }
      .mkString("checkpoint taken or freed outside CheckpointIds:\n", "\n", ""))
    Seq("localCheckpoint(", "getPersistentRDDs", "unpersist(").foreach { call =>
      assert(found.exists(_._2.contains(call)), s"the guard sees no $call where calls are")
    }
  }

  test("the RocksDB state store provider is named once") {
    val rocksDb = "RocksDBStateStoreProvider"
    val found = sources.flatMap { case (file, lines) =>
      lines.filter(_.contains(rocksDb)).map(file -> _.trim)
    }
    if (found.size != 1) fail(found.mkString("named more than once:\n", "\n", ""))
  }
}

object SessionBorrowGuardSpec {
  /** A write to a SparkSession's conf: `<session>.conf.set/unset`, an
    * SQLConf `setConf*`, or `set/unset` on a local bound to `<x>.conf`.
    */
  private val directWrite = """\.conf\.(set|unset)\w*\(|\b(setConf|setConfString|unsetConf)\(""".r
  private val confAlias = """\bval\s+(\w+)\s*=\s*[\w.]+\.conf\s*$""".r.unanchored
  private val memorySinkFormat = """format\("memory"\)""".r
  private val checkpointCallName = """localCheckpoint\(|getPersistentRDDs|unpersist\(""".r

  type Detector = Seq[String] => String => Boolean

  val sessionConfWrite: Detector = lines => {
    val aliases = lines.collect { case confAlias(name) => name }.distinct
    val aliasWrite = aliases.map(a => s"""\\b$a\\.(set|unset)\\(""".r)
    line => directWrite.findFirstIn(line).isDefined ||
      aliasWrite.exists(_.findFirstIn(line).isDefined)
  }

  val memorySink: Detector = _ => line => memorySinkFormat.findFirstIn(line).isDefined

  val checkpointCall: Detector = _ => line => checkpointCallName.findFirstIn(line).isDefined

  /** An object's member definition: the name of the enclosing member. */
  private val member =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|lazy\s+)*(?:def|val)\s+(\w+)""".r.unanchored

  /** (enclosing member, code) for each code line the detector flags;
    * comments are not code.
    */
  def sites(lines: Seq[String], detector: Detector): Seq[(String, String)] = {
    val flags = detector(lines)
    var enclosing = "<top>"
    lines.flatMap { line =>
      line match {
        case member(name) => enclosing = name
        case _ =>
      }
      val trimmed = line.trim
      val code = if (trimmed.startsWith("*") || trimmed.startsWith("/*")) ""
        else trimmed.split("//", 2).head
      if (flags(code)) Some(enclosing -> code) else None
    }
  }
}
