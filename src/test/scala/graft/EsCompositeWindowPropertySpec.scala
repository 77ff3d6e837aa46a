package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized end-to-end property for the composite-aggregation pager:
  * for arbitrary null-bearing corpora, composite page sizes (down to a
  * single bucket per response — maximal after_key resumes), sort
  * directions and null placements, the PRODUCT reader's after_key drain
  * against the loopback's composite evaluator must produce exactly the
  * grouped result a direct model computes — every group once (no
  * boundary duplicate or drop), NULL groups via missing_bucket, and
  * under a pushed ordered window the early-terminated page walk must
  * still surface the complete top-n prefix. COMPLETE pushdown is
  * asserted per iteration (no engine aggregate), so a pager defect
  * cannot hide behind an engine-side re-aggregation. Seeded generation
  * — deterministic. */
class EsCompositeWindowPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new java.util.Random(20260817L)

  private val schema = StructType(Seq(
    StructField("seg", StringType), StructField("cat", LongType),
    StructField("v", LongType)))

  /** One group row the model and the collected result both reduce to. */
  private case class G(seg: String, cat: java.lang.Long,
      n: Long, sumV: java.lang.Long, nV: Long)

  /** Register corpus + endpoint, return the catalog-qualified name. */
  private def table(name: String, rows: Seq[Array[Any]], pageSize: Int): String = {
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(EsEndpoint("estest", name, schema,
      EsEndpointSpec(base, name, HttpRestConfig(retryBackoffMs = 5),
        compositePageSize = pageSize)))
    if (SourceRegistry.get("estest").isEmpty)
      SourceRegistry.register(SourceDef("estest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/estest").getPath,
        "json", "es"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.estest.$name"
  }

  private def corpus(n: Int): Seq[Array[Any]] = Seq.fill(n) {
    Array[Any](
      if (rnd.nextInt(6) == 0) null else ("A" + ('A' + rnd.nextInt(4)).toChar),
      if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf(rnd.nextInt(4).toLong),
      if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(100).toLong))
  }

  private def model(rows: Seq[Array[Any]]): Seq[G] =
    rows.groupBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[java.lang.Long]))
      .map { case ((s, c), grp) =>
        val vs = grp.map(_(2)).collect { case v: java.lang.Long => v.longValue() }
        G(s, c, grp.size.toLong,
          if (vs.isEmpty) null else java.lang.Long.valueOf(vs.sum), vs.size.toLong)
      }.toSeq

  /** The comparator Spark's ORDER BY applies to the group keys. */
  private def cmp(a: G, b: G, dirs: Seq[(Boolean, Boolean)]): Int = {
    def one(x: Any, y: Any, asc: Boolean, nullsFirst: Boolean): Int =
      (x, y) match {
        case (null, null) => 0
        case (null, _) => if (nullsFirst) -1 else 1
        case (_, null) => if (nullsFirst) 1 else -1
        case (p: String, q: String) =>
          val c = p.compareTo(q); if (asc) c else -c
        case (p: java.lang.Long, q: java.lang.Long) =>
          val c = p.compareTo(q); if (asc) c else -c
        case other => sys.error(s"unexpected key pair $other")
      }
    val c0 = one(a.seg, b.seg, dirs(0)._1, dirs(0)._2)
    if (c0 != 0) c0 else one(a.cat, b.cat, dirs(1)._1, dirs(1)._2)
  }

  test("random composite drains equal the grouped model at every page size") {
    SourceRegistry.ensureCatalog(spark)
    for (iter <- 1 to 24) {
      val rows = corpus(40 + rnd.nextInt(160))
      // page sizes down to 1 force an after_key resume per bucket
      val pageSize = 1 + rnd.nextInt(5)
      val grouped = spark.table(table(s"compprop$iter", rows, pageSize))
        .groupBy("seg", "cat")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"), count("v").as("n_v"))
      val want = model(rows)

      val windowed = rnd.nextBoolean()
      val df =
        if (!windowed) grouped
        else {
          val dirs = Seq.fill(2)((rnd.nextBoolean(), rnd.nextBoolean()))
          def ord(c: String, d: (Boolean, Boolean)) = (d: @unchecked) match {
            case (true, true) => col(c).asc_nulls_first
            case (true, false) => col(c).asc_nulls_last
            case (false, true) => col(c).desc_nulls_first
            case (false, false) => col(c).desc_nulls_last
          }
          val n = 1 + rnd.nextInt(want.size + 2)
          grouped.orderBy(ord("seg", dirs(0)), ord("cat", dirs(1))).limit(n)
        }
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"iter $iter: COMPLETE pushdown must leave no engine aggregate:\n$plan")
      val got = df.collect().map(r => G(
        if (r.isNullAt(0)) null else r.getString(0),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
        r.getLong(2),
        if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
        r.getLong(4))).toSeq

      if (!windowed) {
        // exhaustive after_key walk: every group exactly once
        assert(got.size == want.size,
          s"iter $iter pageSize=$pageSize: ${got.size} groups, want ${want.size}")
        assert(got.toSet == want.toSet,
          s"iter $iter pageSize=$pageSize:\n got=${got.sortBy(_.n)}\nwant=${want.sortBy(_.n)}")
      } else {
        // aggregates exact and no boundary duplicate; the strict
        // ordered-prefix property is the second test's job
        val byKey = want.map(g => (g.seg, g.cat) -> g).toMap
        got.foreach { g =>
          assert(byKey.get((g.seg, g.cat)).contains(g),
            s"iter $iter pageSize=$pageSize: wrong aggregates for ${(g.seg, g.cat)}: $g")
        }
        assert(got.map(g => (g.seg, g.cat)).distinct.size == got.size,
          s"iter $iter pageSize=$pageSize: duplicate group in windowed result: $got")
      }
    }
  }

  test("an ordered window never loses a group that belongs in the prefix") {
    SourceRegistry.ensureCatalog(spark)
    for (iter <- 1 to 12) {
      val rows = corpus(60 + rnd.nextInt(100))
      val pageSize = 1 + rnd.nextInt(4)
      val tbl = table(s"comppropw$iter", rows, pageSize)
      val dirs = Seq.fill(2)((rnd.nextBoolean(), rnd.nextBoolean()))
      def ord(c: String, d: (Boolean, Boolean)) = (d: @unchecked) match {
        case (true, true) => col(c).asc_nulls_first
        case (true, false) => col(c).asc_nulls_last
        case (false, true) => col(c).desc_nulls_first
        case (false, false) => col(c).desc_nulls_last
      }
      val want = model(rows).sortWith((a, b) => cmp(a, b, dirs) < 0)
      val n = 1 + rnd.nextInt(want.size)
      val got = spark.table(tbl)
        .groupBy("seg", "cat")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"), count("v").as("n_v"))
        .orderBy(ord("seg", dirs(0)), ord("cat", dirs(1))).limit(n)
        .collect().map(r => G(
          if (r.isNullAt(0)) null else r.getString(0),
          if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
          r.getLong(2),
          if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
          r.getLong(4))).toSeq
      assert(got == want.take(n),
        s"iter $iter pageSize=$pageSize dirs=$dirs n=$n:\n got=$got\nwant=${want.take(n)}")
    }
  }
}
