package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.RandomAccessFile
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The shared session profile: the input-derived partition rule and the
  * rule that no other code in src/main builds a session. */
class GraftSessionSpec extends AnyFunSuite {
  private def tmpDir(tag: String): Path = {
    val p = Files.createTempDirectory(s"graft-session-$tag")
    p.toFile.deleteOnExit(); p
  }

  private def sizedFile(p: Path, bytes: Long): Unit = {
    val f = new RandomAccessFile(p.toFile, "rw")
    try f.setLength(bytes) finally f.close()
    p.toFile.deleteOnExit()
  }

  test("a missing or empty directory derives one partition") {
    val empty = tmpDir("empty")
    assert(GraftSession.partitionsFor(empty.toString, 8) === 1)
    assert(GraftSession.partitionsFor(empty.resolve("missing").toString, 8) === 1)
  }

  test("a tiny input derives one partition") {
    val d = tmpDir("tiny")
    sizedFile(d.resolve("t.parquet"), 1000)
    assert(GraftSession.inputBytes(d.toString) === 1000)
    assert(GraftSession.partitionsFor(d.toString, 8) === 1)
  }

  test("an input of 2 MiB per cpu or more derives cpus partitions") {
    val d = tmpDir("large")
    Files.createDirectory(d.resolve("sub")).toFile.deleteOnExit()
    sizedFile(d.resolve("a.parquet"), GraftSession.BytesPerPartition * 2)
    sizedFile(d.resolve("sub").resolve("b.parquet"), GraftSession.BytesPerPartition * 2)
    assert(GraftSession.partitionsFor(d.toString, 4) === 4)
    assert(GraftSession.partitionsFor(d.toString, 3) === 3)
    assert(GraftSession.partitionsFor(d.toString, 8) === 4)
  }

  test("a symlink back to a parent directory is not followed") {
    val d = tmpDir("loop")
    sizedFile(d.resolve("t.parquet"), 1000)
    val sub = Files.createDirectory(d.resolve("sub"))
    sub.toFile.deleteOnExit()
    Files.createSymbolicLink(sub.resolve("up"), d).toFile.deleteOnExit()
    assert(GraftSession.inputBytes(d.toString) === 1000)
    assert(GraftSession.partitionsFor(d.toString, 8) === 1)
  }

  test("GraftSession is the only SparkSession builder in src/main") {
    val sites = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.count(_.contains("SparkSession.builder")) match {
          case 0 => Nil
          case n => Seq(p.getFileName.toString -> n)
        }
      }.toList
    assert(sites === List("GraftSession.scala" -> 1))
  }
}
