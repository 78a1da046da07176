package graft.jobs

import graft.SparkSpec
import graft.sources.{LocalFs, NioLocalFileSystem, NioLocalFs}
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The production mains' session rules: shuffle/state partitions at the
  * core count unless the SparkConf names a count, and the fork-free `file:`
  * filesystem unless the SparkConf names one. Exercised on the pure rules
  * and on scoped child sessions, so the test JVM needs no second
  * SparkContext and the shared session's confs stay as they are.
  */
class JobSessionSpec extends AnyFunSuite with SparkSpec {
  import JobSession.{ShufflePartitions, coreSizedPartitions, sized}
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
    val cores = spark.sparkContext.defaultParallelism
    // a child session at Spark's default: an unset conf resizes it ...
    val unset = spark.newSession()
    unset.conf.set(ShufflePartitions, "200")
    assert(sized(unset, conf()) eq unset)
    assert(unset.conf.get(ShufflePartitions) === cores.toString)
    // ... and an explicit value, even 200, is left alone
    val pinned = spark.newSession()
    pinned.conf.set(ShufflePartitions, "200")
    sized(pinned, conf(ShufflePartitions -> "200"))
    assert(pinned.conf.get(ShufflePartitions) === "200")
    // local() reuses the test JVM's context, whose SparkConf sets the
    // count: the session keeps that count
    val s = JobSession.local("graft-jobsession-spec")
    assert(s.sparkContext eq spark.sparkContext)
    assert(s.conf.get(ShufflePartitions) ===
      spark.sparkContext.getConf.get(ShufflePartitions))
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
