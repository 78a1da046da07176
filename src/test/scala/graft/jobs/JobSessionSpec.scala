package graft.jobs

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{HeapScope, SparkSpec}
import graft.plans.TimestampFilterPushdown
import graft.sources.{LocalFs, NioLocalFileSystem, NioLocalFs}
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory's rules: shuffle/state partitions at the core
  * count unless the SparkConf names a count, UTC, AQE on, the UI off and
  * the fork-free `file:` filesystem unless the SparkConf names them, and
  * the pushdown rule plus the CrawlCols functions on every session.
  * Exercised on the pure rules, on the shared test session (itself built
  * by the factory) and on scoped child sessions, so the test JVM needs no
  * second SparkContext and the shared session's confs stay as they are.
  */
class JobSessionSpec extends AnyFunSuite with SparkSpec {
  import JobSession.{ShufflePartitions, UiEnabled, coreSizedPartitions, defaults}
  import LocalFs.{AbstractFileSystemKey, FileSystemKey}

  private def conf(kv: (String, String)*) = new SparkConf(false).setAll(kv)

  test("an unset shuffle partition count gets the core count") {
    assert(coreSizedPartitions(conf(), 4) === Some(4))
    assert(coreSizedPartitions(conf("spark.other" -> "1"), 16) === Some(16))
  }

  test("a count set in the SparkConf wins, Spark's 200 included") {
    assert(coreSizedPartitions(conf(ShufflePartitions -> "8"), 4) === None)
    assert(coreSizedPartitions(conf(ShufflePartitions -> "200"), 4) === None)
  }

  test("JobSession applies the rule to the session it returns") {
    // the shared session is local("graft-test", "local[4]") on a SparkConf
    // that names no count: it runs at the core count, 4 ...
    val cores = spark.sparkContext.defaultParallelism
    assert(cores === 4)
    assert(!spark.sparkContext.getConf.contains(ShufflePartitions))
    assert(spark.conf.get(ShufflePartitions) === cores.toString)
    // ... as an initial option, so a plain newSession() child has it too
    assert(spark.newSession().conf.get(ShufflePartitions) === cores.toString)
    // local() reuses the test JVM's context and session, at the same count
    val s = JobSession.local("graft-jobsession-spec")
    assert(s.sparkContext eq spark.sparkContext)
    assert(s.conf.get(ShufflePartitions) === cores.toString)
  }

  test("the UI is off unless the SparkConf sets it") {
    assert(defaults(conf()).toMap.get(UiEnabled) === Some("false"))
    assert(!defaults(conf(UiEnabled -> "true")).toMap.contains(UiEnabled))
    assert(!defaults(conf(UiEnabled -> "false")).toMap.contains(UiEnabled))
    // the other fixed confs follow the same rule
    assert(defaults(conf()).toMap ===
      Map("spark.sql.session.timeZone" -> "UTC",
        "spark.sql.adaptive.enabled" -> "true", UiEnabled -> "false") ++
        LocalFs.confs(conf()))
    assert(!defaults(conf("spark.sql.session.timeZone" -> "Europe/London"))
      .toMap.contains("spark.sql.session.timeZone"))
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("install is idempotent: two calls leave one pushdown rule") {
    val bare = spark.newSession()
    assert(!bare.experimental.extraOptimizations.contains(TimestampFilterPushdown))
    JobSession.install(JobSession.install(bare))
    assert(bare.experimental.extraOptimizations
      .count(_ == TimestampFilterPushdown) === 1)
    assert(spark.experimental.extraOptimizations
      .count(_ == TimestampFilterPushdown) === 1)
  }

  test("authority_key resolves in SQL on the factory's session") {
    import org.apache.spark.sql.functions.lit
    val viaSql = spark.sql("SELECT authority_key('www.Example.org') AS h")
      .head().getString(0)
    val viaColumn = spark.range(1)
      .select(graft.functions.CrawlCols.authorityKey(lit("www.Example.org")))
      .head().getString(0)
    assert(viaSql === viaColumn)
  }

  test("a HeapScope child has the parent's shuffle partition count") {
    assert(HeapScope.session(spark).conf.get(ShufflePartitions) ===
      spark.conf.get(ShufflePartitions))
    // a runtime count, which newSession() alone would not carry over
    val parent = JobSession.install(spark.newSession())
    parent.conf.set(ShufflePartitions, "7")
    val child = HeapScope.session(parent)
    assert(child.conf.get(ShufflePartitions) === "7")
    assert(child.conf.get(HeapScope.Conf) === HeapScope.Raised)
    assert(parent.conf.get(HeapScope.Conf) !== HeapScope.Raised)
  }

  test("source guard: the session builder is called only in the session factory") {
    def scala(root: String): Seq[Path] =
      Files.walk(Paths.get(root)).iterator.asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    def calling(roots: Seq[String], call: String): Set[String] =
      roots.flatMap(scala)
        .filter(p => Files.readString(p).contains(call))
        .map(_.getFileName.toString).toSet
    // the literal is split so this file does not name the call itself
    val builder = "SparkSession" + ".builder()"
    assert(calling(Seq("src/main", "src/test"), builder) === Set("Mains.scala"))
    for (call <- Seq("TimestampFilterPushdown" + ".enable(",
        "CrawlCols" + ".register("))
      assert(calling(Seq("src/main"), call) === Set("Mains.scala"), call)
  }

  test("an unset conf gets both fork-free filesystem keys") {
    val expected = Map(FileSystemKey -> classOf[NioLocalFileSystem].getName,
      AbstractFileSystemKey -> classOf[NioLocalFs].getName)
    assert(LocalFs.confs(conf()).toMap === expected)
    assert(LocalFs.confs(conf("spark.hadoop.fs.other" -> "x")).toMap === expected)
  }

  test("a filesystem key set in the SparkConf wins") {
    val stockFs = "org.apache.hadoop.fs.LocalFileSystem"
    val stockAfs = "org.apache.hadoop.fs.local.LocalFs"
    assert(LocalFs.confs(conf(FileSystemKey -> stockFs)) ===
      Seq(AbstractFileSystemKey -> classOf[NioLocalFs].getName))
    assert(LocalFs.confs(conf(AbstractFileSystemKey -> stockAfs)) ===
      Seq(FileSystemKey -> classOf[NioLocalFileSystem].getName))
    assert(LocalFs.confs(
      conf(FileSystemKey -> stockFs, AbstractFileSystemKey -> stockAfs)).isEmpty)
  }
}
