package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.core.LocalFs
import graft.streaming.NesConfig

class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def walk(p: Path): Seq[Path] = Files.walk(p).iterator().asScala.toSeq

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session's local file system is graft's fork-free one") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.getClass === classOf[LocalFs.Checked])
  }

  test("a checkpointed drain and a partitioned write start no process and keep stock permissions and checksums") {
    val base = Files.createTempDirectory("graft-localfs")
    val src = Files.createDirectories(base.resolve("src"))
    val mint = """EVENT_JSON:{"standard":"nep171","version":"1.0.0","event":"nft_mint","data":[{"owner_id":"a.near","token_ids":["1:1","1:2"]}]}"""
    Files.write(src.resolve("logs.json"), (0 until 20).map { i =>
      s"""{"log":"${Bench.esc(mint)}","receipt_id":"r$i","block_timestamp":$i,""" +
        s""""block_height":$i,"shard_id":0,"contract_account_id":"c${i % 3}.near"}"""
    }.asJava)
    val tokens = Seq(("c0.near", "1:1", "T", "ipfs://m", "{}"))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val (out, chk, pq) = (base.resolve("out"), base.resolve("chk"), base.resolve("pq"))

    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      NesConfig.runConfigured(spark, NesConfig(enrichMetadata = true), src.toString,
        out.toString, chk.toString, Some(tokens)).awaitTermination()
      spark.read.parquet(out.toString).write.partitionBy("topic").parquet(pq.toString)
    } finally rec.stop()
    val jfr = Files.createTempFile("graft-localfs", ".jfr")
    rec.dump(jfr)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command")).toSeq
    Files.delete(jfr)
    assert(!commands.exists(c => c.contains("chmod") || c.contains("readlink")), commands)

    // 20 mints → 40 envelope records + 40 flat token records
    assert(spark.read.parquet(pq.toString).count() === 80L)
    assert(spark.read.parquet(out.toString).filter(col("topic").endsWith("_metadata")).count() === 40L)
    // Hadoop's umask 022 over its 0666/0777 defaults, as stock Hadoop gives them
    val written = Seq(out, chk, pq).flatMap(walk)
    val (dirs, files) = written.partition(Files.isDirectory(_))
    assert(dirs.map(mode).distinct === Seq("rwxr-xr-x"))
    assert(files.map(mode).distinct === Seq("rw-r--r--"))
    // every data and checkpoint file still has its .crc sibling
    val checked = files.filterNot(_.getFileName.toString.startsWith(".")).filter { f =>
      f.toString.endsWith(".parquet") || Set("offsets", "commits")(f.getParent.getFileName.toString)
    }
    assert(checked.count(_.toString.endsWith(".parquet")) >= 2)
    assert(checked.exists(_.getParent.getFileName.toString == "commits"))
    checked.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
    }
  }
}
