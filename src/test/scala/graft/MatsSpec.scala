package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Scale gate of [[Mats]]: the source dir is sized through the Hadoop
  * FileSystem API, so a URI sizes like a bare local path. */
class MatsSpec extends AnyFunSuite {
  import TestSpark._

  test("inputBytes sizes a file: URI dir and treats an unreadable size as materialize") {
    val dir = Files.createTempDirectory("g_mats_size_")
    Files.createDirectories(dir.resolve("t.parquet"))
    Files.write(dir.resolve("t.parquet/part-0"), Array.fill[Byte](1000)(1))
    Files.write(dir.resolve("top"), Array.fill[Byte](234)(2))
    val uri = dir.toUri.toString
    assert(uri.startsWith("file:"))
    assert(Mats.inputBytes(spark, uri) === 1234L)
    assert(Mats.inputBytes(spark, dir.toString) === 1234L)
    assert(Mats.inputBytes(spark, dir.resolve("missing").toString) === Long.MaxValue)
    assert(Mats.inputBytes(spark, "nosuchscheme://h/d") === Long.MaxValue)
    val prev = spark.conf.getOption("spark.graft.mat.threshold")
    spark.conf.set("spark.graft.mat.threshold", "1000")
    try assert(Mats.materializeAt(spark, uri), "a 1234-byte URI dir is above 1000")
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.mat.threshold", v)
      case None => spark.conf.unset("spark.graft.mat.threshold")
    }
  }
}
