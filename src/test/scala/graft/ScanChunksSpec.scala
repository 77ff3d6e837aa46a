package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Partition fan-out of the file connector (reference: the planner's
  * key-range fan-out of one source scan into parallel fragments,
  * dataux planner/sql_master.go:75-98):
  *   - ChunkLineIterator: byte-range line reads reconstruct exactly the
  *     file's lines for EVERY possible split size (no lost/duplicated
  *     records at any boundary);
  *   - a single large JSONL file scans as multiple partitions;
  *   - many small files bin-pack into fewer partitions;
  *   - CSV (quoted embedded newlines) never byte-splits;
  *   - seeded plans: every byte in exactly one chunk, the partition count
  *     rule, the per-partition bound of balanced packing, determinism.
  */
class ScanChunksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def tmpDir(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  test("ChunkLineIterator reconstructs all lines at every split size") {
    val lines = Seq(
      "first", "", "a,b,\"q\"", "héllo→wörld", "x" * 300, "tail-no-newline")
    for (trailingNewline <- Seq(true, false)) {
      val f = File.createTempFile("chunklines", ".txt")
      val text = lines.mkString("\n") + (if (trailingNewline) "\n" else "")
      Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
      val total = f.length()
      for (split <- 1L to total) {
        val got = (0L until total by split).flatMap { s =>
          val it = new ChunkLineIterator(f, s, math.min(split, total - s))
          try it.toList finally it.close()
        }
        assert(got == lines, s"split=$split trailing=$trailingNewline")
      }
      f.delete()
    }
  }

  test("a single large JSONL file fans out to multiple scan partitions") {
    val root = tmpDir("graft-fanout")
    val src = SourceRegistry.register(
      SourceDef("fanout_src", root.getPath, "json"))
    SourceRegistry.ensureCatalog(spark)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("label", StringType)))
    FileTable.create(src, "big", schema, "json")
    val sb = new StringBuilder
    (0 until 2000).foreach(i => sb.append(s"""{"id":$i,"label":"row-$i-${"x" * 20}"}""" + "\n"))
    Files.write(new File(src.tableDir("big"), "part-0.jsonl").toPath,
      sb.toString.getBytes(StandardCharsets.UTF_8))

    withConfs(
      "spark.sql.files.maxPartitionBytes" -> "8192",
      "spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.table("graft.fanout_src.big")
      assert(df.rdd.getNumPartitions > 1, "expected a byte-range fan-out")
      assert(df.count() == 2000)
      import org.apache.spark.sql.functions._
      assert(df.agg(sum("id")).head.getLong(0) == 2000L * 1999 / 2)
      // every id exactly once: no boundary loss or duplication
      assert(df.select("id").distinct().count() == 2000)
    }
    SourceRegistry.drop("fanout_src")
  }

  test("small files bin-pack into fewer partitions; CSV never splits") {
    val root = tmpDir("graft-pack")
    val src = SourceRegistry.register(
      SourceDef("pack_src", root.getPath, "json"))
    SourceRegistry.ensureCatalog(spark)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    FileTable.create(src, "many", schema, "json")
    (0 until 8).foreach { i =>
      Files.write(new File(src.tableDir("many"), f"part-$i%02d.jsonl").toPath,
        (0 until 10).map(j => s"""{"id":${i * 10 + j}}""").mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
    }
    withConfs("spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.table("graft.pack_src.many")
      assert(df.rdd.getNumPartitions < 8,
        s"expected bin-packing, got ${df.rdd.getNumPartitions} partitions")
      assert(df.count() == 80)
    }

    // CSV stays whole-file even under a tiny maxPartitionBytes: byte
    // offsets are ambiguous with quoted embedded newlines
    FileTable.create(src, "wide_csv", schema, "csv")
    Files.write(new File(src.tableDir("wide_csv"), "part-0.csv").toPath,
      ("id\n" + (0 until 2000).mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
    withConfs(
      "spark.sql.files.maxPartitionBytes" -> "512",
      "spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.table("graft.pack_src.wide_csv")
      assert(df.rdd.getNumPartitions == 1)
      assert(df.count() == 2000)
    }
    SourceRegistry.drop("pack_src")
  }

  test("seeded plans: every byte once, the partition rule, the load bound, determinism") {
    val r = new scala.util.Random(12)
    for (round <- 0 until 400) {
      val files = (0 until 1 + r.nextInt(40)).map(i => s"/t/f$i" -> (r.nextInt(4) match {
        case 0 => r.nextInt(100).toLong
        case 1 => r.nextInt(100000).toLong
        case 2 => 1000000L + r.nextInt(2000)
        case _ => r.nextLong(64L << 20)
      }))
      val splittable = r.nextBoolean()
      val maxPart = Seq(1L << 20, 16L << 20, 128L << 20)(r.nextInt(3))
      val openCost = Seq(0L, 4L << 10, 4L << 20)(r.nextInt(3))
      val par = 1 + r.nextInt(16)
      val plan = ScanChunks.plan(files, splittable, maxPart, openCost, par)
      val ctx = s"round $round: $par cores, maxPart $maxPart, openCost $openCost, $files"
      val chunks = plan.flatten
      val byFile = chunks.groupBy(_.path)
      files.foreach { case (p, len) =>
        val cs = byFile.getOrElse(p, Nil).sortBy(_.start)
        val ends = cs.scanLeft(0L)((at, c) => { assert(c.start == at, ctx); at + c.length })
        assert(cs.nonEmpty && ends.last == len, ctx)
        if (!splittable) assert(cs.size == 1, ctx)
      }
      val cost = (c: FileChunk) => c.length + openCost
      val total = chunks.map(cost).sum
      val rule = if (total <= par * maxPart) par.toLong else (total + maxPart - 1) / maxPart
      assert(plan.size == math.min(rule, chunks.size.toLong), ctx)
      assert(plan.forall(_.nonEmpty), ctx)
      assert(plan.forall(_.map(cost).sum <= maxPart + chunks.map(cost).max), ctx)
      assert(ScanChunks.plan(files, splittable, maxPart, openCost, par) == plan, ctx)
    }
  }

  test("eight near-equal CSV part files pack 4 + 4 on two cores") {
    // the staged orders_csv part files; first-fit packed them 4 + 3 + 1
    val sizes = Seq(1117145L, 1117005L, 1117706L, 1117848L, 1117780L, 1116806L, 1118524L, 1117335L)
    val files = sizes.zipWithIndex.map { case (n, i) => s"/orders_csv/part-$i.csv" -> n }
    val plan = ScanChunks.plan(files, splittable = false, maxPartBytes = 128L << 20,
      openCost = 4L << 20, parallelism = 2)
    assert(plan.map(_.size) == Seq(4, 4))
    assert(plan.flatten.map(_.path).sorted == files.map(_._1).sorted)
  }
}
