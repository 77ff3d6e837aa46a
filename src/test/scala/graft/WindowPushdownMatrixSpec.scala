package graft

import org.apache.spark.sql.connector.expressions.{Expression, Expressions, GeneralScalarExpression, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownOffset, SupportsPushDownTopN}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** The window-pushdown decisions of every scan builder that pushes a
  * sort, limit or offset, recorded over one schema and asserted as one
  * table. Each case builds a fresh builder, replays the configuration's
  * earlier pushes (filters, aggregate), then makes Spark's window calls
  * in Spark's order and builds the scan. No wire is touched — the
  * endpoints point nowhere.
  *
  * A cell is the calls' outcome then a hash of the built scan's
  * `description()` (hex of `String.hashCode`, which is specified):
  * `T` = `pushTopN` accepted, `L` = `pushLimit` accepted, `.` = the
  * window call declined; then `E` (exact) or `P` (partial) from
  * `isPartiallyPushed`; then, where Spark would offer it (after an exact
  * push, or alone), `O` = `pushOffset` accepted, `o` = declined. The
  * column shapes hold one cell per schema column, a single-key sort in
  * one direction × null-order combination; the other shapes hold one
  * cell. Spark pushes its limit inclusive of the offset, so every window
  * with OFFSET 3 pushes 7 for LIMIT 4. */
class WindowPushdownMatrixSpec extends AnyFunSuite {
  import WindowPushdownMatrixSpec.Window

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("id", LongType),
    StructField("seg", StringType), StructField("v", LongType),
    StructField("txt", StringType)))

  private val http = WireClientConfig()
  private val splits = Some(WireSplits("id", Seq(10L, 20L, 30L)))
  private val fileDir =
    new java.io.File(sys.props("user.dir"), "target/graft-test/windowmatrix").getPath

  private def mongo(sp: Option[WireSplits]): ScanBuilder = new MongoScanBuilder(
    MongoEndpoint("m", "t", schema,
      MongoEndpointSpec("127.0.0.1", 1, "db", "t", WireClientConfig(pageSize = 256)), sp))
  /** `seg` is analyzed text with a keyword sub-field, `txt` without one. */
  private def es(): ScanBuilder = new EsScanBuilder(EsEndpoint("e", "t", schema,
    EsEndpointSpec("http://127.0.0.1:1", "t", http),
    Map("seg" -> Some("seg.keyword"), "txt" -> None)))
  /** Partition key `k`; clustering keys `id`, `v`. */
  private def cql(): ScanBuilder = new CqlScanBuilder(
    CqlEndpoint("q", "t", schema, Seq("k"), Seq("id", "v"),
      CqlEndpointSpec("127.0.0.1", 1, "t", WireClientConfig(pageSize = 256))))
  private def bq(): ScanBuilder = new BqScanBuilder(BqEndpoint("b", "t", schema,
    BqEndpointSpec("http://127.0.0.1:1", "t", http)))
  private def ds(sp: Option[WireSplits]): ScanBuilder = new DsScanBuilder(
    DsEndpoint("d", "t", schema, DsEndpointSpec("http://127.0.0.1:1", "t", http), sp))
  private def file(profile: String): ScanBuilder = new FileScanBuilder(new FileTable(
    SourceDef(s"windowmatrix_$profile", fileDir, "json", profile), "t", schema, "json"))

  private def countBy(cols: String*): Aggregation =
    new Aggregation(Array(new CountStar()), cols.map(Expressions.column(_): Expression).toArray)

  private def withFilters(b: ScanBuilder, fs: Filter*): ScanBuilder = {
    b.asInstanceOf[SupportsPushDownFilters].pushFilters(fs.toArray); b
  }
  private def withAgg(b: ScanBuilder, a: Aggregation): ScanBuilder = {
    val s = b.asInstanceOf[SupportsPushDownAggregates]
    s.supportCompletePushDown(a)
    assert(s.pushAggregation(a), s"$b refused $a")
    b
  }

  /** Builder factories, one per configuration. */
  private val configs: Seq[(String, () => ScanBuilder)] = Seq(
    "mongo" -> (() => mongo(None)),
    "mongo_split" -> (() => mongo(splits)),
    "es" -> (() => es()),
    "es_agg" -> (() => withAgg(es(), countBy("seg", "v"))),
    "cql" -> (() => cql()),
    "cql_pinned_pk" -> (() => withFilters(cql(), EqualTo("k", "a"))),
    "bq" -> (() => bq()),
    "bq_agg" -> (() => withAgg(bq(), countBy("seg", "v"))),
    "ds" -> (() => ds(None)),
    "ds_split" -> (() => ds(splits)),
    "bt" -> (() => new BtScanBuilder(BtEndpoint("t", "t", schema, "k",
      BtEndpointSpec("http://127.0.0.1:1", "t", "k", http)))),
    "file_full" -> (() => file("full")),
    "file_passthrough" -> (() => file("passthrough")))

  private def key(e: Expression, desc: Boolean, nullsFirst: Boolean): SortOrder =
    Expressions.sort(e,
      if (desc) SortDirection.DESCENDING else SortDirection.ASCENDING,
      if (nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
  private def key(c: String, desc: Boolean, nullsFirst: Boolean): SortOrder =
    key(Expressions.column(c), desc, nullsFirst)

  private def cell(mk: () => ScanBuilder, w: Window): String = {
    val b = mk()
    def exact(s: Char, accepted: Boolean): String =
      if (!accepted) "."
      else {
        val partial = b.asInstanceOf[SupportsPushDownLimit].isPartiallyPushed()
        s"$s${if (partial) "P" else "E"}" +
          (if (partial || w.offset == 0) "" else offsetCall())
      }
    def offsetCall(): String = b match {
      case o: SupportsPushDownOffset => if (o.pushOffset(w.offset)) "O" else "o"
      case _ => ""
    }
    val calls =
      if (w.sort.nonEmpty)
        exact('T', b.asInstanceOf[SupportsPushDownTopN].pushTopN(w.sort.toArray, w.limit))
      else if (w.limit >= 0)
        exact('L', b.asInstanceOf[SupportsPushDownLimit].pushLimit(w.limit))
      else offsetCall()
    f"$calls:${b.build().description().hashCode}%08x"
  }

  private val combos: Seq[(String, Boolean, Boolean)] = Seq(
    ("asc_nulls_first", false, true), ("asc_nulls_last", false, false),
    ("desc_nulls_first", true, true), ("desc_nulls_last", true, false))

  private val plusOne: Expression = new GeneralScalarExpression("+",
    Array(Expressions.column("id"), Expressions.literal(1L)))

  /** Shapes that hold one cell; `k_then_expression` leads with BigTable's
    * row key. */
  private val windows: Seq[(String, Window)] = Seq(
    "two_keys" -> Window(Seq(key("id", false, true), key("v", false, true)), 5, 0),
    "two_keys_desc" -> Window(Seq(key("id", true, false), key("v", true, false)), 5, 0),
    "two_keys_mixed" -> Window(Seq(key("id", true, false), key("v", false, true)), 5, 0),
    "multi_part_name" -> Window(Seq(key("seg.x", false, true)), 5, 0),
    "expression" -> Window(Seq(key(plusOne, false, true)), 5, 0),
    "k_then_expression" -> Window(Seq(key("k", false, true), key(plusOne, false, true)), 5, 0),
    "limit" -> Window(Nil, 5, 0),
    "limit_offset" -> Window(Nil, 7, 3),
    "sort_offset" -> Window(Seq(key("id", false, true)), 7, 3),
    "sort_desc_offset" -> Window(Seq(key("id", true, false)), 7, 3),
    "offset" -> Window(Nil, -1, 3))

  private def observed: Seq[(String, String, String)] =
    configs.flatMap { case (name, mk) =>
      combos.map { case (shape, desc, nf) =>
        (name, shape, schema.fieldNames.map(c =>
          cell(mk, Window(Seq(key(c, desc, nf)), 5, 0))).mkString(" "))
      } ++ windows.map { case (shape, w) => (name, shape, cell(mk, w)) }
    }

  private val expected: Seq[(String, String, String)] = Seq(
    ("mongo", "asc_nulls_first", "TE:0809a668 TE:e2503b48 TE:0b7e00be TE:cd53943d TE:bafb0283"),
    ("mongo", "asc_nulls_last", ".:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5"),
    ("mongo", "desc_nulls_first", ".:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5"),
    ("mongo", "desc_nulls_last", "TE:14393c6d TE:82c5438d TE:7f502cd7 TE:f82d0938 TE:bf7363b2"),
    ("mongo", "two_keys", "TE:36625311"),
    ("mongo", "two_keys_desc", "TE:9bf934ff"),
    ("mongo", "two_keys_mixed", "TE:5eff5396"),
    ("mongo", "multi_part_name", ".:455dadd5"),
    ("mongo", "expression", ".:455dadd5"),
    ("mongo", "k_then_expression", ".:455dadd5"),
    ("mongo", "limit", "LE:6ca72e92"),
    ("mongo", "limit_offset", "LEO:e91ce7fa"),
    ("mongo", "sort_offset", "TEO:dc646c84"),
    ("mongo", "sort_desc_offset", "TEO:86bac79f"),
    ("mongo", "offset", "O:d57f2858"),
    ("mongo_split", "asc_nulls_first", "TP:0809a668 TP:e2503b48 TP:0b7e00be TP:cd53943d TP:bafb0283"),
    ("mongo_split", "asc_nulls_last", ".:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5"),
    ("mongo_split", "desc_nulls_first", ".:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5 .:455dadd5"),
    ("mongo_split", "desc_nulls_last", "TP:14393c6d TP:82c5438d TP:7f502cd7 TP:f82d0938 TP:bf7363b2"),
    ("mongo_split", "two_keys", "TP:36625311"),
    ("mongo_split", "two_keys_desc", "TP:9bf934ff"),
    ("mongo_split", "two_keys_mixed", "TP:5eff5396"),
    ("mongo_split", "multi_part_name", ".:455dadd5"),
    ("mongo_split", "expression", ".:455dadd5"),
    ("mongo_split", "k_then_expression", ".:455dadd5"),
    ("mongo_split", "limit", "LP:6ca72e92"),
    ("mongo_split", "limit_offset", "LP:fb05c6d0"),
    ("mongo_split", "sort_offset", "TP:70aed386"),
    ("mongo_split", "sort_desc_offset", "TP:1123dbcb"),
    ("mongo_split", "offset", "o:455dadd5"),
    ("es", "asc_nulls_first", "TP:0b0bfada TP:1143c054 TP:dfc218ff TP:21e10fe5 .:532d3226"),
    ("es", "asc_nulls_last", "TP:f95052a6 TP:9eacf5ec TP:39fb5be1 TP:024ef03b .:532d3226"),
    ("es", "desc_nulls_first", "TP:61cc2838 TP:228d11fe TP:23d9ceb3 TP:2599b48d .:532d3226"),
    ("es", "desc_nulls_last", "TP:a1460188 TP:a77dc702 TP:75fc1fad TP:b81b1693 .:532d3226"),
    ("es", "two_keys", "TP:842350c2"),
    ("es", "two_keys_desc", "TP:b36c2c82"),
    ("es", "two_keys_mixed", "TP:1d3225d4"),
    ("es", "multi_part_name", ".:532d3226"),
    ("es", "expression", ".:532d3226"),
    ("es", "k_then_expression", ".:532d3226"),
    ("es", "limit", "LP:73415113"),
    ("es", "limit_offset", "LP:e3230751"),
    ("es", "sort_offset", "TP:81257692"),
    ("es", "sort_desc_offset", "TP:175f7d40"),
    ("es", "offset", ":532d3226"),
    ("es_agg", "asc_nulls_first", ".:96adf5a1 .:96adf5a1 TP:39fd23ec TP:5354c85a .:96adf5a1"),
    ("es_agg", "asc_nulls_last", ".:96adf5a1 .:96adf5a1 TP:a44ed398 TP:3a9ea458 .:96adf5a1"),
    ("es_agg", "desc_nulls_first", ".:96adf5a1 .:96adf5a1 TP:602e291a TP:ab60151a .:96adf5a1"),
    ("es_agg", "desc_nulls_last", ".:96adf5a1 .:96adf5a1 TP:427170aa TP:c196bf98 .:96adf5a1"),
    ("es_agg", "two_keys", ".:96adf5a1"),
    ("es_agg", "two_keys_desc", ".:96adf5a1"),
    ("es_agg", "two_keys_mixed", ".:96adf5a1"),
    ("es_agg", "multi_part_name", ".:96adf5a1"),
    ("es_agg", "expression", ".:96adf5a1"),
    ("es_agg", "k_then_expression", ".:96adf5a1"),
    ("es_agg", "limit", "LP:fdad01d9"),
    ("es_agg", "limit_offset", "LP:b9f7dedb"),
    ("es_agg", "sort_offset", ".:96adf5a1"),
    ("es_agg", "sort_desc_offset", ".:96adf5a1"),
    ("es_agg", "offset", ":96adf5a1"),
    ("cql", "asc_nulls_first", ".:145a1931 .:145a1931 .:145a1931 .:145a1931 .:145a1931"),
    ("cql", "asc_nulls_last", ".:145a1931 .:145a1931 .:145a1931 .:145a1931 .:145a1931"),
    ("cql", "desc_nulls_first", ".:145a1931 .:145a1931 .:145a1931 .:145a1931 .:145a1931"),
    ("cql", "desc_nulls_last", ".:145a1931 .:145a1931 .:145a1931 .:145a1931 .:145a1931"),
    ("cql", "two_keys", ".:145a1931"),
    ("cql", "two_keys_desc", ".:145a1931"),
    ("cql", "two_keys_mixed", ".:145a1931"),
    ("cql", "multi_part_name", ".:145a1931"),
    ("cql", "expression", ".:145a1931"),
    ("cql", "k_then_expression", ".:145a1931"),
    ("cql", "limit", "LP:d0e38201"),
    ("cql", "limit_offset", "LP:5d389383"),
    ("cql", "sort_offset", ".:145a1931"),
    ("cql", "sort_desc_offset", ".:145a1931"),
    ("cql", "offset", ":145a1931"),
    ("cql_pinned_pk", "asc_nulls_first", ".:761fdd4f TP:0a3bcc91 .:761fdd4f .:761fdd4f .:761fdd4f"),
    ("cql_pinned_pk", "asc_nulls_last", ".:761fdd4f TP:0a3bcc91 .:761fdd4f .:761fdd4f .:761fdd4f"),
    ("cql_pinned_pk", "desc_nulls_first", ".:761fdd4f TP:da30270e .:761fdd4f .:761fdd4f .:761fdd4f"),
    ("cql_pinned_pk", "desc_nulls_last", ".:761fdd4f TP:da30270e .:761fdd4f .:761fdd4f .:761fdd4f"),
    ("cql_pinned_pk", "two_keys", "TP:920b9d9f"),
    ("cql_pinned_pk", "two_keys_desc", "TP:a8e35c3d"),
    ("cql_pinned_pk", "two_keys_mixed", ".:761fdd4f"),
    ("cql_pinned_pk", "multi_part_name", ".:761fdd4f"),
    ("cql_pinned_pk", "expression", ".:761fdd4f"),
    ("cql_pinned_pk", "k_then_expression", ".:761fdd4f"),
    ("cql_pinned_pk", "limit", "LP:dd49521f"),
    ("cql_pinned_pk", "limit_offset", "LP:641630a1"),
    ("cql_pinned_pk", "sort_offset", "TP:9108ab13"),
    ("cql_pinned_pk", "sort_desc_offset", "TP:60fd0590"),
    ("cql_pinned_pk", "offset", ":761fdd4f"),
    ("bq", "asc_nulls_first", "TE:f55db6fb TE:f6257ba1 TE:a74156a5 TE:8db9c486 TE:9541f240"),
    ("bq", "asc_nulls_last", "TE:6ae558a7 TE:395f6741 TE:4f9a1bbd TE:a15bedbc TE:a19a20c2"),
    ("bq", "desc_nulls_first", "TE:d34bb4fb TE:eb7c8515 TE:5ddc0a91 TE:467158d0 TE:2feee256"),
    ("bq", "desc_nulls_last", "TE:383f9aa7 TE:39075f4d TE:ea233a51 TE:d09ba832 TE:d823d5ec"),
    ("bq", "two_keys", "TE:0f98814a"),
    ("bq", "two_keys_desc", "TE:5bcba9ca"),
    ("bq", "two_keys_mixed", "TE:18e9c61e"),
    ("bq", "multi_part_name", ".:781fbfb2"),
    ("bq", "expression", ".:781fbfb2"),
    ("bq", "k_then_expression", ".:781fbfb2"),
    ("bq", "limit", "LE:54d15c82"),
    ("bq", "limit_offset", "LEO:6539dce1"),
    ("bq", "sort_offset", "TEO:7bfd50a2"),
    ("bq", "sort_desc_offset", "TEO:26e2ce76"),
    ("bq", "offset", "O:8eab2550"),
    ("bq_agg", "asc_nulls_first", ".:9c880296 .:9c880296 TE:2445792f TE:129d5210 .:9c880296"),
    ("bq_agg", "asc_nulls_last", ".:9c880296 .:9c880296 TE:4c4c90e1 TE:b71597e0 .:9c880296"),
    ("bq_agg", "desc_nulls_first", ".:9c880296 .:9c880296 TE:a576b975 TE:8219fcb4 .:9c880296"),
    ("bq_agg", "desc_nulls_last", ".:9c880296 .:9c880296 TE:2f6f2fdb TE:1dc708bc .:9c880296"),
    ("bq_agg", "two_keys", ".:9c880296"),
    ("bq_agg", "two_keys_desc", ".:9c880296"),
    ("bq_agg", "two_keys_mixed", ".:9c880296"),
    ("bq_agg", "multi_part_name", ".:9c880296"),
    ("bq_agg", "expression", ".:9c880296"),
    ("bq_agg", "k_then_expression", ".:9c880296"),
    ("bq_agg", "limit", "LE:92a44666"),
    ("bq_agg", "limit_offset", "LEO:78e0f5eb"),
    ("bq_agg", "sort_offset", ".:9c880296"),
    ("bq_agg", "sort_desc_offset", ".:9c880296"),
    ("bq_agg", "offset", "O:9a5c7f1a"),
    ("ds", "asc_nulls_first", "TE:453a515f TE:dcb06623 TE:15b62135 TE:a29002b4 TE:6f5d8e7a"),
    ("ds", "asc_nulls_last", ".:1989c54f .:1989c54f .:1989c54f .:1989c54f .:1989c54f"),
    ("ds", "desc_nulls_first", ".:1989c54f .:1989c54f .:1989c54f .:1989c54f .:1989c54f"),
    ("ds", "desc_nulls_last", "TE:4e4514c1 TE:a591987d TE:8d433fab TE:9ba58e0c TE:68897b06"),
    ("ds", "two_keys", "TE:c851b4dc"),
    ("ds", "two_keys_desc", "TE:7fe5f44a"),
    ("ds", "two_keys_mixed", "TE:a1aadcb6"),
    ("ds", "multi_part_name", ".:1989c54f"),
    ("ds", "expression", ".:1989c54f"),
    ("ds", "k_then_expression", ".:1989c54f"),
    ("ds", "limit", "LE:843ba157"),
    ("ds", "limit_offset", "LEO:c1eb0c0c"),
    ("ds", "sort_offset", "TEO:7d238fc0"),
    ("ds", "sort_desc_offset", "TEO:74634126"),
    ("ds", "offset", "O:e7198863"),
    ("ds_split", "asc_nulls_first", "TE:453a515f TE:dcb06623 TE:15b62135 TE:a29002b4 TE:6f5d8e7a"),
    ("ds_split", "asc_nulls_last", ".:1989c54f .:1989c54f .:1989c54f .:1989c54f .:1989c54f"),
    ("ds_split", "desc_nulls_first", ".:1989c54f .:1989c54f .:1989c54f .:1989c54f .:1989c54f"),
    ("ds_split", "desc_nulls_last", "TE:4e4514c1 TE:a591987d TE:8d433fab TE:9ba58e0c TE:68897b06"),
    ("ds_split", "two_keys", "TE:c851b4dc"),
    ("ds_split", "two_keys_desc", "TE:7fe5f44a"),
    ("ds_split", "two_keys_mixed", "TE:a1aadcb6"),
    ("ds_split", "multi_part_name", ".:1989c54f"),
    ("ds_split", "expression", ".:1989c54f"),
    ("ds_split", "k_then_expression", ".:1989c54f"),
    ("ds_split", "limit", "LP:843ba157"),
    ("ds_split", "limit_offset", "LP:8288c015"),
    ("ds_split", "sort_offset", "TEO:7d238fc0"),
    ("ds_split", "sort_desc_offset", "TEO:74634126"),
    ("ds_split", "offset", "o:1989c54f"),
    ("bt", "asc_nulls_first", "TP:3577e090 .:5826eb1b .:5826eb1b .:5826eb1b .:5826eb1b"),
    ("bt", "asc_nulls_last", "TP:3577e090 .:5826eb1b .:5826eb1b .:5826eb1b .:5826eb1b"),
    ("bt", "desc_nulls_first", "TP:3577e090 .:5826eb1b .:5826eb1b .:5826eb1b .:5826eb1b"),
    ("bt", "desc_nulls_last", "TP:3577e090 .:5826eb1b .:5826eb1b .:5826eb1b .:5826eb1b"),
    ("bt", "two_keys", ".:5826eb1b"),
    ("bt", "two_keys_desc", ".:5826eb1b"),
    ("bt", "two_keys_mixed", ".:5826eb1b"),
    ("bt", "multi_part_name", ".:5826eb1b"),
    ("bt", "expression", ".:5826eb1b"),
    ("bt", "k_then_expression", "TP:3577e090"),
    ("bt", "limit", "LP:3577e090"),
    ("bt", "limit_offset", "LP:a55996ce"),
    ("bt", "sort_offset", ".:5826eb1b"),
    ("bt", "sort_desc_offset", ".:5826eb1b"),
    ("bt", "offset", ":5826eb1b"),
    ("file_full", "asc_nulls_first", "TP:b7ad3024 TP:9d588ca5 TP:8303e926 TP:68af45a7 TP:4e5aa228"),
    ("file_full", "asc_nulls_last", "TP:6b0cb9b5 TP:3acced54 TP:0a8d20f3 TP:da4d5492 TP:aa0d8831"),
    ("file_full", "desc_nulls_first", "TP:8fe8a6e3 TP:8f0f3642 TP:8e35c5a1 TP:8d5c5500 TP:8c82e45f"),
    ("file_full", "desc_nulls_last", "TP:9a401ad6 TP:7feb7757 TP:6596d3d8 TP:4b423059 TP:30ed8cda"),
    ("file_full", "two_keys", "TP:110e9663"),
    ("file_full", "two_keys_desc", "TP:d02bf5c7"),
    ("file_full", "two_keys_mixed", "TP:ed990b15"),
    ("file_full", "multi_part_name", ".:786e3149"),
    ("file_full", "expression", ".:786e3149"),
    ("file_full", "k_then_expression", ".:786e3149"),
    ("file_full", "limit", "LP:198443da"),
    ("file_full", "limit_offset", "LP:8965fa18"),
    ("file_full", "sort_offset", "TP:341c03a1"),
    ("file_full", "sort_desc_offset", "TP:16aeee53"),
    ("file_full", "offset", "o:786e3149"),
    ("file_passthrough", "asc_nulls_first", "TE:09674a43 TE:ef12a6c4 TE:d4be0345 TE:ba695fc6 TE:a014bc47"),
    ("file_passthrough", "asc_nulls_last", "TE:5095e376 TE:20561715 TE:f0164ab4 TE:bfd67e53 TE:8f96b1f2"),
    ("file_passthrough", "desc_nulls_first", "TE:71834ce4 TE:70a9dc43 TE:6fd06ba2 TE:6ef6fb01 TE:6e1d8a60"),
    ("file_passthrough", "desc_nulls_last", "TE:ebfa34f5 TE:d1a59176 TE:b750edf7 TE:9cfc4a78 TE:82a7a6f9"),
    ("file_passthrough", "two_keys", "TE:3e740382"),
    ("file_passthrough", "two_keys_desc", "TE:fd9162e6"),
    ("file_passthrough", "two_keys_mixed", "TE:1afe7834"),
    ("file_passthrough", "multi_part_name", ".:786e3149"),
    ("file_passthrough", "expression", ".:786e3149"),
    ("file_passthrough", "k_then_expression", ".:786e3149"),
    ("file_passthrough", "limit", "LE:b1907279"),
    ("file_passthrough", "limit_offset", "LEO:217228b7"),
    ("file_passthrough", "sort_offset", "TEO:85d61dc0"),
    ("file_passthrough", "sort_desc_offset", "TEO:68690872"),
    ("file_passthrough", "offset", "O:6a138a4a")
  )

  test("every builder's window-pushdown decision matches the table") {
    val got = observed
    val render = got.map { case (b, s, c) => f"""    ("$b", "$s", "$c"),""" }.mkString("\n")
    assert(got == expected, s"\nobserved table:\n$render")
  }
}

object WindowPushdownMatrixSpec {

  /** A window as Spark offers it: a sort (or none), the pushed limit
    * (inclusive of the offset; -1 = none) and the offset (0 = none). */
  final case class Window(sort: Seq[SortOrder], limit: Int, offset: Int)
}
