package graft

import java.io.File
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine
import graft.sources._

/** Seeded properties of keyed DML on file tables: random sequences of
  * INSERT, UPSERT, UPDATE and DELETE run against an in-memory model, under
  * the `keys`, `prefix` and `full` pushdown profiles, with a BIGINT, a
  * STRING, a DATE and a composite (BIGINT, STRING) key. Every INSERT and
  * UPSERT adds part files, so the rows spread over many files and the
  * `_keyranges.json` sidecar decides which files a statement opens.
  * Some UPSERTs carry a value the table cannot store (`'x'` into the
  * BIGINT `n`): they must fail before any file changes. A bucketed table
  * (`'buckets' = '4'`) runs the same sequences.
  *
  * After every statement:
  *   - the table holds exactly the model's rows, and UPDATE/UPSERT report
  *     the model's affected count;
  *   - no rewrite or sidecar temp (`.gupd`, `.rewrite`, `.tmp-*`,
  *     `._keyranges*`) is left behind;
  *   - every remaining part file's sidecar range covers all of its keys
  *     (pruning soundness: a stale range that is too narrow would let a
  *     later read or rewrite skip a file that holds a matching row);
  *   - on a bucketed table, every part file's keys hash to the bucket its
  *     sidecar entry records.
  *
  * DELETE conditions stay inside each profile's accept list, since a
  * declined DELETE is refused by Spark before it reaches the table. */
class FileDmlPropertySpec extends AnyFunSuite {
  import FileDmlPropertySpec._

  private lazy val spark: SparkSession = TestSpark.session

  private sealed abstract class Kind(val name: String, val composite: Boolean) {
    def keyType: String
    def lit(k: Int): String
    def show(k: Int): String
    def ddl: String =
      if (composite) s"k BIGINT, k2 STRING, v STRING, n BIGINT"
      else s"k $keyType, v STRING, n BIGINT"
    def keysProp: String = if (composite) "k,k2" else "k"
  }
  private object BigintKey extends Kind("bigint", false) {
    val keyType = "BIGINT"
    def lit(k: Int): String = k.toString
    def show(k: Int): String = k.toString
  }
  private object StringKey extends Kind("string", false) {
    val keyType = "STRING"
    def lit(k: Int): String = s"'${show(k)}'"
    def show(k: Int): String = f"k$k%02d"
  }
  private object DateKey extends Kind("date", false) {
    val keyType = "DATE"
    private val epoch = LocalDate.of(2020, 1, 1)
    def lit(k: Int): String = s"DATE'${show(k)}'"
    def show(k: Int): String = epoch.plusDays(k.toLong).toString
  }
  private object CompositeKey extends Kind("composite", true) {
    val keyType = "BIGINT"
    def lit(k: Int): String = k.toString
    def show(k: Int): String = k.toString
  }

  private val KeySpace = 40
  private val K2s = Seq("a", "b")

  private def keyEq(kind: Kind, k: Int) = Cond(s"k = ${kind.lit(k)}", _.k == k)
  private def keyIn(kind: Kind, ks: Seq[Int]) =
    Cond(s"k IN (${ks.map(kind.lit).mkString(", ")})", m => ks.contains(m.k))
  private def keyRange(kind: Kind, lo: Int, hi: Int) =
    Cond(s"k >= ${kind.lit(lo)} AND k <= ${kind.lit(hi)}", m => m.k >= lo && m.k <= hi)
  private def nGt(x: Long) = Cond(s"n > $x", _.n.exists(_ > x))
  private def and(a: Cond, b: Cond) = Cond(s"${a.sql} AND ${b.sql}", m => a.hit(m) && b.hit(m))
  private def k2Eq(s: String) = Cond(s"k2 = '$s'", _.k2 == s)

  /** A key the model holds most of the time, a random one otherwise. */
  private def someKey(r: Random, model: Seq[M]): Int =
    if (model.nonEmpty && r.nextInt(4) != 0) model(r.nextInt(model.size)).k
    else r.nextInt(KeySpace)

  private def updateCond(r: Random, kind: Kind, model: Seq[M]): Cond = {
    val k = someKey(r, model)
    val base = r.nextInt(6) match {
      case 0 | 1 => keyEq(kind, k)
      case 2 => keyIn(kind, Seq(k, r.nextInt(KeySpace), r.nextInt(KeySpace)).distinct)
      case 3 => keyRange(kind, k, k + r.nextInt(6))
      case 4 => nGt(r.nextInt(100).toLong)
      case _ => and(keyRange(kind, k, k + r.nextInt(10)), nGt(r.nextInt(100).toLong))
    }
    if (kind.composite && r.nextBoolean()) and(base, k2Eq(K2s(r.nextInt(2)))) else base
  }

  private def deleteCond(r: Random, profile: String, kind: Kind, model: Seq[M]): Cond = {
    val k = someKey(r, model)
    val base = profile match {
      case "keys" =>
        if (r.nextBoolean()) keyEq(kind, k)
        else keyIn(kind, Seq(k, r.nextInt(KeySpace)).distinct)
      case "prefix" =>
        if (r.nextBoolean()) keyEq(kind, k) else keyRange(kind, k, k + r.nextInt(4))
      case _ =>
        r.nextInt(4) match {
          case 0 => keyEq(kind, k)
          case 1 => keyIn(kind, Seq(k, r.nextInt(KeySpace)).distinct)
          case 2 => keyRange(kind, k, k + r.nextInt(4))
          case _ => and(keyEq(kind, k), nGt(r.nextInt(100).toLong))
        }
    }
    // the composite key's second part is a key column under every profile
    if (kind.composite && r.nextBoolean()) and(base, k2Eq(K2s(r.nextInt(2)))) else base
  }

  private def randRow(r: Random, k: Int, k2: String): M =
    M(k, k2, s"v${r.nextInt(1000)}",
      if (r.nextInt(8) == 0) None else Some(r.nextInt(100).toLong))

  /** The rows as VALUES text; `n`, when given, replaces every `n` value. */
  private def valuesSql(kind: Kind, rows: Seq[M], n: String = null): String = rows.map { m =>
    val nv = Option(n).getOrElse(m.n.map(_.toString).getOrElse("CAST(NULL AS BIGINT)"))
    if (kind.composite) s"(${kind.lit(m.k)}, '${m.k2}', '${m.v}', $nv)"
    else s"(${kind.lit(m.k)}, '${m.v}', $nv)"
  }.mkString(", ")

  private def show(kind: Kind, m: M): Seq[String] =
    (Seq(kind.show(m.k)) ++ Option(m.k2).toSeq ++ Seq(m.v, m.n.map(_.toString).orNull))
      .map(String.valueOf)

  /** Distinct fresh (k, k2) keys the model does not hold. */
  private def freshKeys(r: Random, kind: Kind, model: Seq[M], n: Int): Seq[(Int, String)] = {
    val held = model.map(m => (m.k, m.k2)).toSet
    val all = for (k <- 0 until KeySpace; k2 <- (if (kind.composite) K2s else Seq(null)))
      yield (k, k2)
    r.shuffle(all.filterNot(held).toList).take(n)
  }

  private def checkFiles(kind: Kind, dir: File, buckets: Int, ctx: String): Unit = {
    val names = Option(dir.list()).getOrElse(Array.empty[String])
    val temps = names.filter(n => n.endsWith(".gupd") || n.endsWith(".rewrite") ||
      n.startsWith(".tmp-") || n.startsWith("._keyranges"))
    assert(temps.isEmpty, s"$ctx: temps left behind: ${temps.mkString(", ")}")
    val schema = StructType.fromDDL(kind.ddl)
    val keyType = schema.fields(0).dataType
    val ranges = KeyRanges.load(dir)
    FileTable.dataFiles(dir, "csv").foreach { f =>
      ranges.get(f.getName).foreach { m =>
        val keys = Using.resource(FileCodec.utf8Reader(f))(in =>
          CsvCodec.reader(in, schema).map(_(0)).toList)
        assert(m.rows < 0 || m.rows == keys.size,
          s"$ctx: ${f.getName} holds ${keys.size} rows, its sidecar says ${m.rows}")
        // BIGINT compares as a number; STRING and ISO DATE text as text
        def le(a: Any, b: Any): Boolean = (a, b) match {
          case (x: java.lang.Long, y: java.lang.Long) => x <= y
          case _ => a.toString <= b.toString
        }
        val (mn, mx) = (LineCodec.parse(m.min, keyType), LineCodec.parse(m.max, keyType))
        if (mn != null && mx != null) keys.filter(_ != null).foreach { k =>
          assert(le(mn, k) && le(k, mx),
            s"$ctx: ${f.getName} holds key $k outside its sidecar range [$mn, $mx]")
        }
        if (buckets > 0) keys.foreach { k =>
          assert(GraftBucket.of(k, buckets) == m.bucket,
            s"$ctx: ${f.getName} (bucket ${m.bucket}) holds key $k of bucket " +
              GraftBucket.of(k, buckets))
        }
      }
      assert(buckets == 0 || ranges.contains(f.getName),
        s"$ctx: bucketed ${f.getName} has no sidecar entry")
    }
  }

  private def runSequence(profile: String, kind: Kind, seed: Long, steps: Int,
      buckets: Int = 0): Unit = {
    val eng = new GraftEngine(spark)
    val src = s"dmlprop_${profile}_${kind.name}" + (if (buckets > 0) s"_b$buckets" else "")
    val path = new File(sys.props("user.dir"), s"target/graft-test/$src").getPath
    eng.sql(s"""CREATE SOURCE $src WITH { "type": "csv", "path": "$path", "pushdown": "$profile" }""")
    val t = s"graft.$src.t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val bucketProp = if (buckets > 0) s", 'buckets' = '$buckets'" else ""
    spark.sql(s"CREATE TABLE $t (${kind.ddl}) " +
      s"TBLPROPERTIES ('keys' = '${kind.keysProp}'$bucketProp)")
    val dir = new File(path, "t")
    val r = new Random(seed)
    val model = ArrayBuffer.empty[M]
    try {
      for (step <- 0 until steps) {
        // the first statements load the table: several INSERT commits,
        // each spreading its rows over up to four part files
        val op = if (step < 4) 0 else r.nextInt(10)
        val ctx = s"[$profile/${kind.name} seed=$seed step=$step]"
        op match {
          case 0 | 1 => // INSERT of fresh keys
            val rows = freshKeys(r, kind, model.toSeq, 1 + r.nextInt(5))
              .map { case (k, k2) => randRow(r, k, k2) }
            if (rows.nonEmpty) {
              eng.sql(s"INSERT INTO $t VALUES ${valuesSql(kind, rows)}").collect()
              model ++= rows
            }
          case 2 | 3 | 4 => // UPSERT: held keys replaced, fresh ones appended
            val held = r.shuffle(model.map(m => (m.k, m.k2)).distinct.toList)
              .take(r.nextInt(3))
            val keys = (held ++ freshKeys(r, kind, model.toSeq, r.nextInt(3)))
              .distinct
            if (keys.nonEmpty) {
              val rows = keys.map { case (k, k2) => randRow(r, k, k2) }
              if (r.nextInt(4) == 0) {
                // a non-key value the table cannot store: the statement
                // fails whole, before any part file or sidecar changes
                val sql = s"UPSERT INTO $t VALUES ${valuesSql(kind, rows, n = "'x'")}"
                val e = intercept[Exception](eng.sql(sql).collect())
                assert(e.getMessage.contains("CANNOT_SAFELY_CAST"), s"$ctx $sql: $e")
              } else {
                val sql = s"UPSERT INTO $t VALUES ${valuesSql(kind, rows)}"
                val n = eng.sql(sql).collect()(0).getLong(0)
                assert(n == rows.size, s"$ctx $sql: affected $n")
                val ks = keys.toSet
                model.filterInPlace(m => !ks((m.k, m.k2)))
                model ++= rows
              }
            }
          case 5 | 6 | 7 => // UPDATE: the WHERE and RHS see the original row
            val c = updateCond(r, kind, model.toSeq)
            val v = s"u${r.nextInt(1000)}"
            val sql = s"UPDATE $t SET n = n + 1, v = '$v' WHERE ${c.sql}"
            val n = eng.sql(sql).collect()(0).getLong(0)
            val hit = model.count(c.hit)
            assert(n == hit, s"$ctx $sql: affected $n, model $hit")
            model.mapInPlace(m => if (c.hit(m)) m.copy(v = v, n = m.n.map(_ + 1)) else m)
          case _ =>
            val c = deleteCond(r, profile, kind, model.toSeq)
            eng.sql(s"DELETE FROM $t WHERE ${c.sql}").collect()
            model.filterInPlace(m => !c.hit(m))
        }
        val got = spark.table(t).collect().map(_.toSeq.map(String.valueOf)).toSeq
        val want = model.toSeq.map(show(kind, _))
        val order = Ordering.Implicits.seqOrdering[Seq, String]
        assert(got.sorted(order) == want.sorted(order), s"$ctx contents")
        checkFiles(kind, dir, buckets, ctx)
      }
      assert(FileTable.dataFiles(dir, "csv").size > 1, "rows never spread over part files")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      eng.sql(s"DROP SOURCE $src")
    }
  }

  for (profile <- Seq("keys", "prefix", "full");
       kind <- Seq(BigintKey, StringKey, DateKey, CompositeKey)) {
    test(s"keyed DML matches the model: profile=$profile key=${kind.name}") {
      Seq(11L, 29L).foreach(seed => runSequence(profile, kind, seed, 18))
    }
  }

  // UPDATE never sets the key here, so it keeps every row in its bucket
  for (kind <- Seq(BigintKey, StringKey)) {
    test(s"bucketed keyed DML keeps every row in its recorded bucket: key=${kind.name}") {
      Seq(11L, 29L).foreach(seed => runSequence("keys", kind, seed, 18, buckets = 4))
    }
  }
}

object FileDmlPropertySpec {

  /** One model row. `k` is the key's ordinal (its rendered form sorts the
    * same way for every key kind); `k2` is the composite key's second
    * part (null for single keys). */
  private final case class M(k: Int, k2: String, v: String, n: Option[Long])

  /** A WHERE condition: its SQL text and its meaning on a model row. */
  private final case class Cond(sql: String, hit: M => Boolean)
}
