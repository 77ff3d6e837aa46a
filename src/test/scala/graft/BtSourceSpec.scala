package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** BigTable-protocol connector: row-set compilation (equality→rowKeys,
  * prefix/range→rowRanges, conjunct intersection), key-only pushdown
  * with non-key polyfill, base64 cell round-trips, and the startKeyOpen
  * scan-resume contract past the service chunk cap. */
class BtSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.session

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("id", LongType),
    StructField("seg", StringType), StructField("bal", DoubleType)))
  private val rows: Seq[Array[Any]] = (0L until 400L).map { i =>
    Array[Any](f"row#$i%05d", i,
      if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else null, i * 1.5)
  }

  private def table(name: String): String = {
    LoopbackRestServer.registerBt(name, schema, "k", rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    LoopbackRestServer.failNext.set(0)
    WireEndpoints.register(BtEndpoint("bttest", name, schema, "k",
      BtEndpointSpec(baseUrl, name, "k",
        WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    if (SourceRegistry.get("bttest").isEmpty)
      SourceRegistry.register(SourceDef("bttest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/bttest").getPath,
        "json", "bt"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.bttest.$name"
  }

  // ---- row-set compilation ----------------------------------------------

  test("key predicates compile to row sets; conjuncts intersect") {
    def one(f: Filter) = BtQuery.compileOne(f, "k")
    assert(one(EqualTo("k", "row#00007")).get.keys == Seq("row#00007"))
    assert(one(In("k", Array("row#00001", "row#00002"))).get.keys.size == 2)
    val pre = one(StringStartsWith("k", "row#001")).get.ranges.head
    assert(pre._1 == "row#001" && pre._2 > "row#001")
    assert(one(GreaterThan("bal", 1.0)).isEmpty, "non-key declines")
    assert(one(EqualTo("seg", "A")).isEmpty)
    // range intersection: [row#00100, inf) ∩ (-inf, row#00200)
    val rs = BtQuery.intersect(Seq(
      one(GreaterThanOrEqual("k", "row#00100")).get,
      one(LessThan("k", "row#00200")).get))
    assert(rs.ranges == Seq(("row#00100", "row#00200")))
    // keys filtered through a range
    val rs2 = BtQuery.intersect(Seq(
      BtQuery.RowSet(Nil, Seq("row#00050", "row#00250")),
      one(LessThan("k", "row#00100")).get))
    assert(rs2.keys == Seq("row#00050"))
  }

  test("prefix range uses the true prefix successor (keys with U+FFFF suffixes stay in)") {
    // end bound = successor(prefix), NOT prefix + '￿': a key whose
    // suffix begins with U+FFFF must still match the prefix scan
    assert(BtQuery.prefixSuccessor("row#001") == "row#002")
    assert(BtQuery.prefixSuccessor("a￿") == "b")
    assert(BtQuery.prefixSuccessor("￿￿") == "")
    assert(BtQuery.prefixSuccessor("") == "")
    val r = BtQuery.compileOne(StringStartsWith("k", "v"), "k").get.ranges.head
    val hostile = "v￿tail"
    assert(hostile >= r._1 && hostile < r._2,
      s"key [$hostile] must fall inside the prefix range $r")
    // all-max prefix => open end, never an inverted/empty range
    val open = BtQuery.compileOne(StringStartsWith("k", "￿"), "k").get.ranges.head
    assert(open._2 == "")
  }

  test("strict bounds use the NUL successor key, not a printable guess") {
    val gt = BtQuery.compileOne(GreaterThan("k", "row#00010"), "k").get.ranges.head
    assert(gt._1 == "row#00010\u0000")
    val le = BtQuery.compileOne(LessThanOrEqual("k", "row#00010"), "k").get.ranges.head
    assert(le._2 == "row#00010\u0000")
  }

  // ---- DSv2 through the socket ------------------------------------------

  test("prefix + non-key conjunct: range ships, residual polyfills") {
    val t = table("bt1")
    val got = spark.table(t)
      .filter(col("k").startsWith("row#001") && col("bal") > 200.0)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = rows.filter(r => r(0).asInstanceOf[String].startsWith("row#001")
        && r(3).asInstanceOf[Double] > 200.0)
      .map(_(1).asInstanceOf[Long]).sorted
    assert(got.toSeq == want)
    val q = LoopbackRestServer.lastBtQuery.get()
    assert(q.contains("rowRanges"), q)
    assert(!q.contains("bal"), s"non-key must stay engine-side: $q")
  }

  test("key equality and IN ship as rowKeys") {
    val t = table("bt2")
    val got = spark.table(t)
      .filter(col("k").isin("row#00003", "row#00390"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(3L, 390L))
    assert(LoopbackRestServer.lastBtQuery.get().contains("rowKeys"))
  }

  test("full scans resume with startKeyOpen past the 300-row chunk cap") {
    val t = table("bt3")
    val served0 = LoopbackRestServer.served.get()
    val all = spark.table(t).select("k", "id", "seg", "bal").collect()
    assert(all.length == 400)
    assert(LoopbackRestServer.served.get() - served0 >= 2,
      "400 rows past the 300-row cap must take a resumed read")
    assert(LoopbackRestServer.lastBtQuery.get().contains("startKeyOpen"),
      "the second read must resume after the last received key")
    // cells round-trip: nulls stay null, doubles exact
    val r7 = all.find(_.getString(0) == "row#00007").get
    assert(r7.getLong(1) == 7L && r7.getString(2) == "B" && r7.getDouble(3) == 10.5)
    val r2 = all.find(_.getString(0) == "row#00002").get
    assert(r2.isNullAt(2), "null cells must come back null")
  }

  test("contradictory key conjuncts return ZERO rows, never a full scan") {
    // the intersection of disjoint keys/ranges is the EMPTY row set —
    // an empty RowSet proto would mean "read everything" on a real
    // BigTable, so this is the silent-inversion case
    assert(BtQuery.intersect(Seq(
      BtQuery.RowSet(Nil, Seq("a")), BtQuery.RowSet(Nil, Seq("b")))) == BtQuery.Empty)
    assert(BtQuery.intersect(Seq(
      BtQuery.RowSet(Seq(("b", "")), Nil),
      BtQuery.RowSet(Seq(("", "a")), Nil))) == BtQuery.Empty)
    val t = table("bt5")
    val served0 = LoopbackRestServer.served.get()
    assert(spark.table(t)
      .filter(col("k") === "row#00001" && col("k") === "row#00002")
      .collect().isEmpty)
    assert(spark.table(t)
      .filter(col("k") >= "row#00300" && col("k") < "row#00200")
      .collect().isEmpty)
    assert(LoopbackRestServer.served.get() == served0,
      "a provably-empty row set must not even issue a read")
  }

  test("key range queries stream only the range") {
    val t = table("bt4")
    val got = spark.table(t)
      .filter(col("k") >= "row#00100" && col("k") < "row#00110")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (100L until 110L))
  }

  // ---- wire DML ----------------------------------------------------------

  private def writeTable(name: String): String = {
    LoopbackRestServer.registerBt(name, schema, "k", Seq.empty)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BtEndpoint("bttest", name, schema, "k",
      BtEndpointSpec(baseUrl, name, "k",
        WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.bttest.$name"
  }

  test("INSERT is an upsert on the row key via :mutateRows; DELETE by key only") {
    val t = writeTable("wr1")
    spark.sql(s"INSERT INTO $t VALUES ('r1', 1, 'A', 1.0), ('r2', 2, 'B', 2.0)")
    assert(spark.table(t).count() == 2)
    // same row key again: the Put replaces cells, never duplicates
    spark.sql(s"INSERT INTO $t VALUES ('r1', 11, 'A2', 1.5)")
    assert(spark.table(t).count() == 2)
    assert(spark.table(t).filter(col("k") === "r1").collect()(0).getLong(1) == 11L)
    // delete by explicit keys
    spark.sql(s"DELETE FROM $t WHERE k IN ('r1', 'r2')")
    assert(spark.table(t).count() == 0)
  }

  test("DELETE refuses ranges and non-key predicates (DeleteRow is key-addressed)") {
    val t = writeTable("wr2")
    spark.sql(s"INSERT INTO $t VALUES ('r1', 1, 'A', 1.0)")
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE k >= 'r0'"))
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE seg = 'A'"))
    assert(spark.table(t).count() == 1, "refused deletes must not mutate")
  }

  test("DELETE intersects ANDed key predicates; a contradiction deletes nothing") {
    val t = writeTable("wr9")
    spark.sql(s"INSERT INTO $t VALUES ('r1', 1, 'A', 1.0), ('r2', 2, 'B', 2.0), ('r3', 3, 'C', 3.0)")
    // k = 'r1' AND k = 'r2' matches no row: the conjunction must delete none
    spark.sql(s"DELETE FROM $t WHERE k = 'r1' AND k = 'r2'")
    assert(spark.table(t).count() == 3, "a contradictory WHERE deletes nothing")
    // k = 'r1' AND k IN ('r1','r2'): only the intersection ('r1') goes
    spark.sql(s"DELETE FROM $t WHERE k = 'r1' AND k IN ('r1', 'r2')")
    assert(spark.table(t).collect().map(_.getString(0)).sorted.toSeq == Seq("r2", "r3"),
      "ANDed key predicates delete their intersection, never their union")
    // a WHERE that pins no keys (bare IS NOT NULL) refuses loudly
    // instead of silently deleting nothing
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE k IS NOT NULL"))
    assert(spark.table(t).count() == 2, "refused deletes must not mutate")
  }

  test("UPDATE refuses on a BigTable backend (the reference's contract)") {
    val t = writeTable("wr3")
    spark.sql(s"INSERT INTO $t VALUES ('r1', 1, 'A', 1.0)")
    val eng = new graft.engine.GraftEngine(spark)
    val e = intercept[Exception](eng.sql(s"UPDATE $t SET bal = 9.0 WHERE k = 'r1'"))
    assert(e.getMessage.contains("not supported on a BigTable"), e.getMessage)
    assert(spark.table(t).filter(col("bal") === 9.0).count() == 0)
  }

  // ---- sampled-key fan-out ----------------------------------------------

  private def fanTable(name: String, fanout: Int): String = {
    LoopbackRestServer.registerBt(name, schema, "k", rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BtEndpoint("bttest", name, schema, "k",
      BtEndpointSpec(baseUrl, name, "k",
        WireClientConfig(pageSize = 64, retryBackoffMs = 5)), fanout = fanout))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.bttest.$name"
  }

  test(":sampleRowKeys shards full scans into disjoint row ranges") {
    val t = fanTable("fan1", 4)
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == 4, "sampled boundaries => 4 scan tasks")
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == rows.map(_(1).asInstanceOf[Long]).sorted,
      "clamped ranges tile the key space: every row exactly once")
    val perPart = df.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(perPart.count(_ > 0) == 4 && perPart.sum == rows.size, perPart.toSeq.toString)
  }

  test("a pushed key range clamps the shards; out-of-range shards drop") {
    val t = fanTable("fan2", 4)
    val df = spark.table(t)
      .filter(col("k") >= "row#00100" && col("k") < "row#00110")
    assert(df.rdd.getNumPartitions == 1,
      "a 10-key range fits one sampled shard — the others are provably empty")
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == (100L until 110L))
  }

  test("explicit-key reads stay one point-lookup batch") {
    val t = fanTable("fan3", 4)
    val df = spark.table(t).filter(col("k").isin("row#00007", "row#00familiar", "row#00399"))
    assert(df.rdd.getNumPartitions == 1)
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 399L))
  }

  // ---- row-key ordered windows (TopN + reversed scans) ---------------------

  test("TopN on the row key rides rowsLimit; DESC rides the reversed scan") {
    val t = table("topn1")
    // ascending: the scan streams key-sorted — first n rows, one request
    val asc = spark.table(t).orderBy(col("k")).limit(5).select("k")
    assert(asc.collect().map(_.getString(0)).toSeq ==
      (0 until 5).map(i => f"row#$i%05d"))
    val q1 = LoopbackRestServer.lastBtQuery.get()
    assert(q1.contains("\"rowsLimit\":5") && !q1.contains("reversed"), q1)
    // descending: the public reversed flag — last n keys, no table walk
    val desc = spark.table(t).orderBy(col("k").desc).limit(4).select("k", "id")
    assert(desc.collect().map(_.getString(0)).toSeq ==
      (399 to 396 by -1).map(i => f"row#$i%05d"))
    val q2 = LoopbackRestServer.lastBtQuery.get()
    assert(q2.contains("\"reversed\":true") && q2.contains("\"rowsLimit\":4"), q2)
    // secondary sort keys are dead tiebreakers (row keys are unique) —
    // the first-key window still pushes
    val multi = spark.table(t).orderBy(col("k").desc, col("id")).limit(3).select("k")
    assert(multi.collect().map(_.getString(0)).toSeq ==
      (399 to 397 by -1).map(i => f"row#$i%05d"))
    assert(LoopbackRestServer.lastBtQuery.get().contains("\"reversed\":true"))
    // a non-key leading sort has no server order: declines, polyfills
    val dec = spark.table(t).orderBy(col("bal").desc).limit(2).select("k", "bal")
    assert(dec.collect().map(_.getString(0)).toSeq == Seq("row#00399", "row#00398"))
    assert(!LoopbackRestServer.lastBtQuery.get().contains("reversed"))
  }

  test("reversed scans resume across the chunk cap and clamp to pushed ranges") {
    val t = table("topn2")
    // window larger than the 300-row service chunk cap: the reversed
    // resume contract caps the range's exclusive END at the last key
    val big = spark.table(t).orderBy(col("k").desc).limit(350).select("k")
    assert(big.collect().map(_.getString(0)).toSeq ==
      (399 to 50 by -1).map(i => f"row#$i%05d"))
    assert(LoopbackRestServer.lastBtQuery.get().contains("endKeyOpen"),
      "the resumed request must carry the reversed-resume end bound")
    // reversed window composes with a pushed key range
    val ranged = spark.table(t).filter(col("k") < "row#00100")
      .orderBy(col("k").desc).limit(3).select("k")
    assert(ranged.collect().map(_.getString(0)).toSeq ==
      Seq("row#00099", "row#00098", "row#00097"))
  }

  test("a pushed key sort refuses runtime semi-join keys (ordered-window rule)") {
    val t = table("topn3")
    val dim = spark.range(0, 400)
      .filter(col("id").isin(390L, 5L))
      .select(format_string("row#%05d", col("id")).as("dk"))
    // top-10 by key DESC below the join: filtering the scan by the build
    // keys first would return {00390, 00005} — top-10-of-filtered — and
    // 00005 would survive the join though the true top-10 excludes it
    val df = spark.table(t).orderBy(col("k").desc).limit(10)
      .join(broadcast(dim), col("k") === col("dk"))
      .select("id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(390L),
      "row#00005 must NOT join through a filtered window")
    assert(!LoopbackRestServer.lastBtQuery.get().contains("rowKeys"),
      "no runtime key set may reach a sorted scan")
  }

  // ---- runtime semi-join reduction (dynamic filtering) ---------------------

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  test("a broadcast dim join ships the build-side keys as an explicit rowKeys batch") {
    val t = table("dynb1")
    val dim = spark.range(0, 400)
      .filter(col("id").isin(5L, 10L, 20L))
      .select(format_string("row#%05d", col("id")).as("dk"))
    val df = spark.table(t)
      .join(broadcast(dim), col("k") === col("dk"))
      .select("k", "id")
    val got = df.collect().map(_.getLong(1)).toSet
    assert(got == Set(5L, 10L, 20L), s"$got")
    val req = LoopbackRestServer.lastBtQuery.get()
    assert(req.contains("rowKeys"), s"build keys must ship as a rowKeys batch: $req")
    assert(req.contains(b64("row#00005")) && req.contains(b64("row#00020")), req)
    assert(!req.contains(b64("row#00030")),
      s"a key the build filter dropped must not ship: $req")
  }

  test("runtime keys INTERSECT the static row set; contradictions read nothing") {
    val t = table("dynb2")
    val served0 = LoopbackRestServer.served.get()
    val dim = spark.range(0, 400)
      .filter(col("id").isin(5L, 150L))
      .select(format_string("row#%05d", col("id")).as("dk"))
    val df = spark.table(t)
      .filter(col("k") >= "row#00100") // static range: drops key 00005
      .join(broadcast(dim), col("k") === col("dk"))
      .select("id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(150L))
    val req = LoopbackRestServer.lastBtQuery.get()
    assert(req.contains(b64("row#00150")) && !req.contains(b64("row#00005")),
      s"only the intersection may ship: $req")

    // full contradiction: the dim key lies outside the static range
    val dim2 = spark.range(0, 400)
      .filter(col("id") === 5L)
      .select(format_string("row#%05d", col("id")).as("dk"))
    val df2 = spark.table(t)
      .filter(col("k") >= "row#00100")
      .join(broadcast(dim2), col("k") === col("dk"))
    assert(df2.collect().isEmpty)
    assert(df2.rdd.getNumPartitions == 0 || df2.collect().isEmpty,
      "a provably-empty intersection must plan zero read partitions")
    assert(LoopbackRestServer.served.get() > served0, "sanity: the first read happened")
  }
}
