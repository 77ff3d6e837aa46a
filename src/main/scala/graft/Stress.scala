package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress arm: runs the scale-critical LLM-pipeline operators
  * (MinHash LSH, connected components, incremental dedup, k-means,
  * GroupedTopN, BPE encode, bigram-LM scoring, embedding covariance,
  * semantic dedup — the last with cell count scaled to the corpus, the
  * SemDeDup recipe — plus DSIR weighting, the exact quality band, the
  * sketch-vs-exact eval, and PageRank over key-offset replica subgraphs)
  * at 1× and at R× (default 10×) corpus size and emits per-operator
  * scaling ratios to `BENCH_STRESS_r08.json`.
  *
  * The R× corpus replicates sf0.1's documents/embeddings with PERTURBED
  * payloads (per-replica token interleave / vector offset) so replicas
  * are distinct documents, not near-duplicates of each other — the
  * near-dup pair structure should scale ~R×, and a quadratic pair
  * blow-up (the classic LSH hot-bucket failure) shows up as a
  * super-linear `pairs_ratio`.
  *
  * Three signals per operator, 1× vs R×:
  *   - `sec`: wall time (noop-sink materialization, Bench conventions);
  *   - `rows`: result rows — pair/cluster blow-up detector;
  *   - `max_task_in_mb`: the largest single task's input+shuffle-read —
  *     the "no single-task group" detector (a dominant group collapsing
  *     onto one task scales this ~R×; balanced plans keep it ~flat or
  *     bounded by file split size).
  *
  * Exit 1 if any ratio exceeds its declared near-linear bound (R × 3
  * slack for rows/time, R × 1.5 for max-task bytes) — a loud gate, not a
  * dashboard.
  */
object Stress {

  /** Per-stage max-task accounting, with SCAN INPUT and SHUFFLE READ kept
    * separate: a scan task's input grows with file size (the staged
    * corpora keep a fixed 32-file layout, so 10× data = 10× per-split
    * bytes — bounded in production by files.maxPartitionBytes, NOT a
    * scale hazard), while a shuffle-read task growing super-proportional
    * is the real "hot key / unbalanced exchange" signal the flat-task
    * designs claim to avoid. Stage names (callsites) are kept so a
    * failing stage can be NAMED, not guessed. */
  private final class MaxTaskBytes extends SparkListener {
    final class St(@volatile var name: String) {
      val maxIn = new AtomicLong(0)
      val maxSh = new AtomicLong(0)
    }
    val stages = new scala.collection.concurrent.TrieMap[Int, St]
    override def onStageSubmitted(
        s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
      stages.getOrElseUpdate(s.stageInfo.stageId, new St(s.stageInfo.name))
        .name = s.stageInfo.name
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val st = stages.getOrElseUpdate(t.stageId, new St(s"stage ${t.stageId}"))
        val in = m.inputMetrics.bytesRead
        val sh = m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        var cur = st.maxIn.get()
        while (in > cur && !st.maxIn.compareAndSet(cur, in)) cur = st.maxIn.get()
        cur = st.maxSh.get()
        while (sh > cur && !st.maxSh.compareAndSet(cur, sh)) cur = st.maxSh.get()
      }
    }
    def maxInput: Long = if (stages.isEmpty) 0 else stages.values.map(_.maxIn.get()).max
    def maxShuffle: Long = if (stages.isEmpty) 0 else stages.values.map(_.maxSh.get()).max
    /** top-n stages by max single-task bytes (input+shuffle), named. */
    def top(n: Int): Seq[(Int, String, Long, Long)] =
      stages.toSeq.map { case (id, st) => (id, st.name, st.maxIn.get(), st.maxSh.get()) }
        .sortBy(t => -(t._3 + t._4)).take(n)
    def reset(): Unit = stages.clear()
  }

  /** Per-range stride of the wire-scan stress op: partition count grows
    * with the corpus while per-task rows stay ~WireStride. */
  private val WireStride = 5000

  /** Ops that exist only in the stress arm (not driver gates): the
    * partitioned wire scan seeds a loopback Mongo collection from the
    * staged corpus (once per dir — min-of-N reps drops the seeding rep)
    * with range splits every [[WireStride]] docs, scans it through the
    * DSv2 fan-out, and ASSERTS the flat-task contract before returning a
    * one-row summary. */
  private val wireSeeded = scala.collection.mutable.Set.empty[String]
  private val wireSeedCache =
    scala.collection.mutable.Map.empty[String, Array[Array[Any]]]

  /** (doc_id, n_chars) seed rows for a corpus dir, collected ONCE and
    * shared by both wire ops (driver-bounded: two longs per doc). */
  private def wireSeedDocs(s: SparkSession, dir: String): Array[Array[Any]] =
    wireSeedCache.getOrElseUpdate(dir,
      s.read.parquet(new java.io.File(dir, "documents.parquet").getPath)
        .select(col("doc_id"), col("n_chars")).collect()
        .map(r => Array[Any](r.getLong(0), r.getLong(1))))

  private val wireSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  /** The flat-task contract, asserted loudly: the scan must fan out
    * (never collapse to one task past one stride) and no range/slice
    * may balloon past ~2 strides. Returns the one-row summary. */
  private def assertFlatTasks(s: SparkSession, label: String, table: String)
      : org.apache.spark.sql.DataFrame = {
    val perPart = s.table(table).filter(col("n_chars") > 50)
      .rdd.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
    val total = perPart.sum
    require(perPart.length >= math.max(1, (total / (2 * WireStride)).toInt),
      s"$label under-partitioned: ${perPart.length} tasks for $total rows")
    require(perPart.max <= 2L * WireStride,
      s"$label hot spot: ${perPart.max} rows in one task " +
        s"(stride $WireStride): ${perPart.toSeq}")
    import s.implicits._
    Seq((perPart.length.toLong, perPart.max, total))
      .toDF("n_parts", "max_rows_per_part", "total_rows")
  }

  private def stressOnlyOps: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q_src_wire_scan" -> { (s, dir) =>
      import graft.sources._
      val coll = "stress_docs_" + new java.io.File(dir).getName
      wireSeeded.synchronized {
        if (!wireSeeded.contains(coll)) {
          val seed = wireSeedDocs(s, dir)
          LoopbackMongoServer.register(coll, wireSchema, seed.toSeq)
          val keys = seed.map(_(0).asInstanceOf[Long]).sorted
          val pts: Seq[Any] = (WireStride until keys.length by WireStride)
            .map(keys(_): Any)
          val (h, p) = LoopbackMongoServer.ensureStarted()
          WireEndpoints.register(MongoEndpoint("stresswire", coll, wireSchema,
            MongoEndpointSpec(h, p, LoopbackMongoServer.Db, coll,
              MongoClientConfig(batchSize = 1024)),
            splits = Some(WireSplits("doc_id", pts))))
          if (SourceRegistry.get("stresswire").isEmpty)
            SourceRegistry.register(SourceDef("stresswire",
              new java.io.File(sys.props("user.dir"),
                "target/graft-stress/wire").getPath, "json", "mongo"))
          SourceRegistry.ensureCatalog(s)
          wireSeeded += coll
        }
      }
      assertFlatTasks(s, "mongo wire scan",
        s"${SourceRegistry.CatalogName}.stresswire.$coll")
    },

    // the same flat-task contract through the ES sliced-scroll path:
    // slices grow with the corpus, every slice pages its own scroll
    // cursor, and no slice may balloon (slices stripe the row index,
    // near-uniform by construction)
    "q_src_wire_es_scan" -> { (s, dir) =>
      import graft.sources._
      val idx = "stress_es_" + new java.io.File(dir).getName
      wireSeeded.synchronized {
        if (!wireSeeded.contains(idx)) {
          val seed = wireSeedDocs(s, dir)
          LoopbackRestServer.register(idx, wireSchema, seed.toSeq)
          val base = LoopbackRestServer.ensureStarted()
          val slices = math.max(1, seed.length / WireStride)
          WireEndpoints.register(EsEndpoint("stresswirees", idx, wireSchema,
            EsEndpointSpec(base, idx,
              HttpRestConfig(pageSize = 1024, retryBackoffMs = 5), slices = slices)))
          if (SourceRegistry.get("stresswirees").isEmpty)
            SourceRegistry.register(SourceDef("stresswirees",
              new java.io.File(sys.props("user.dir"),
                "target/graft-stress/wirees").getPath, "json", "es"))
          SourceRegistry.ensureCatalog(s)
          wireSeeded += idx
        }
      }
      assertFlatTasks(s, "es sliced scroll",
        s"${SourceRegistry.CatalogName}.stresswirees.$idx")
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val r = sys.env.getOrElse("SPARK_GRAFT_STRESS_X", "10").toInt
    val out = args.headOption.getOrElse("/root/repo/BENCH_STRESS_r10.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // DSv2 same-server join pushdown (Mongo $lookup, BQ statement render)
      // is harness-level session config, not per-query mutation — set once
      // here so query builders never leak plan-changing conf into the
      // shared session (ADVICE r14)
      .config("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MaxTaskBytes
    spark.sparkContext.addSparkListener(listener)

    // ---- stage the two corpora --------------------------------------
    val base = new java.io.File(sys.props("user.dir"), "target/graft-stress")
    val d1 = new java.io.File(base, "x1")
    val dR = new java.io.File(base, s"x$r")
    def stage(dir: java.io.File, reps: Int): Unit = {
      // v3: + events.parquet (user-offset replicas for the funnel arm)
      // v4: events also stage event_id/value (rolling-anomaly arm)
      val marker = new java.io.File(dir, "_STAGED_v4")
      if (marker.isFile) return
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val repl = explode(sequence(lit(0), lit(reps - 1))).as("r")
      // per-replica token interleave: an `x<r>` token lands between every
      // pair of words, so every 3-shingle of replica r contains x<r> —
      // replicas of one doc share no shingles across r (independent
      // documents), while a near-dup PAIR inside the original corpus
      // stays a near-dup pair inside every replica (structure ~R×, the
      // linear-growth ground truth the ratios assert against)
      docs.select(col("*"), repl)
        .select(
          (col("doc_id") + col("r") * 10000000L).as("doc_id"),
          when(col("r") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("\\s+"),
              concat(lit(" x"), col("r"), lit(" ")))).as("text0"),
          col("lang"), col("source"))
        .select(col("doc_id"), col("text0").as("text"), col("lang"),
          col("source"), length(col("text0")).cast("long").as("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(new java.io.File(dir, "documents.parquet").getPath)
      emb.select(col("*"), repl)
        .select(
          (col("vec_id") + col("r") * 10000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x + col("r").cast("float") * lit(0.001f)).cast("float"))
            .as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(new java.io.File(dir, "embeddings.parquet").getPath)
      // key-offset replicas of the PageRank inputs: each replica is a
      // DISJOINT subgraph (customers/suppliers offset per replica), so
      // nodes, edges, and per-iteration join work all scale exactly R× —
      // the linear ground truth. Only the join/key columns are staged
      // (the stress ops read nothing else from these tables).
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), repl)
        .select((col("o_orderkey") + col("r") * 10000000L).as("o_orderkey"),
          (col("o_custkey") + col("r") * 10000000L).as("o_custkey"))
        .repartition(32)
        .write.mode("overwrite").parquet(new java.io.File(dir, "orders.parquet").getPath)
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"), repl)
        .select((col("l_orderkey") + col("r") * 10000000L).as("l_orderkey"),
          (col("l_suppkey") + col("r") * 10000000L).as("l_suppkey"))
        .repartition(32)
        .write.mode("overwrite").parquet(new java.io.File(dir, "lineitem.parquet").getPath)
      // user-offset replicas of the events table: each replica is a
      // DISJOINT user population with the SAME per-user event history, so
      // funnel/retention window work scales exactly R× while per-user
      // partition sizes stay constant — the flat-shuffle-task ground
      // truth for the chained-window design.
      spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), repl)
        .select((col("event_id") + col("r") * 1000000000L).as("event_id"),
          col("ts"), (col("user_id") + col("r") * 10000000L).as("user_id"),
          col("event_type"), col("value"))
        .repartition(32)
        .write.mode("overwrite").parquet(new java.io.File(dir, "events.parquet").getPath)
      marker.createNewFile()
    }
    stage(d1, 1)
    stage(dR, r)

    val allOps = Seq(
      "q_dedup_minhash_lsh", "q_dedup_clusters", "q_dedup_incremental",
      "q_kmeans", "q_curation_domain_cap",
      // round-8 additions to the family
      "q_text_bpe_encode", "q_text_lm_score", "q_embed_covariance",
      "q_dedup_semantic",
      "q_dedup_blocks", "q_embed_pca", "q_text_cms", "q_curation_shards",
      "q_curation_dsir", "q_curation_quality_band", "q_dedup_minhash_eval",
      "q_graph_pagerank", "q_dedup_spans",
      // round-9 additions: bloom-prefiltered decontam, PMI collocations,
      // fingerprint-first snapshot diff
      "q_curation_bloom_decontam", "q_text_pmi", "q_cdc_snapshot_diff",
      // round-9 additions (second batch): chained-window funnel over
      // disjoint user replicas, SCD2 snapshot merge
      "q_events_funnel", "q_cdc_scd2",
      // round-10: partitioned wire scans (flat per-task contract)
      "q_src_wire_scan", "q_src_wire_es_scan",
      // round-11: URL canonicalization dedup, epoch shuffle, and the two
      // text quality signals (rule flags + zlib compressibility)
      "q_dedup_url", "q_curation_epoch_shuffle",
      "q_text_gopher_rules", "q_text_compress_ratio",
      // round-12: hashed-feature classifier (pure projection), TF-IDF
      // keywords (vocab agg + per-doc window), n-gram repetition
      // (per-row quadratic-in-doc arrays — exactly the class the stress
      // bounds exist to police), rolling anomaly (per-user window over
      // the disjoint user replicas)
      "q_text_classifier", "q_text_keywords",
      "q_text_repetition", "q_events_anomaly",
      // round-13: encoding repair (one native pass/row — the fix_text
      // projection), under the same interleave-inflation headroom as the
      // other per-char text projections
      "q_text_fix_encoding",
      // round-14: audio spectral fingerprint near-dup (synth + Goertzel
      // are linear per row; the banded self-join is capped), sampled-
      // frame video near-dup (k hashes per clip regardless of length),
      // and incremental IVF maintenance (two trainings + two broadcast
      // retrievals; output is fixed at the query count)
      "q_audio_fp_neardup", "q_video_phash_neardup", "q_ann_ivf_incremental",
      // round-14b: hybrid retrieval — both arms end in TakeOrdered
      // top-50 and the fusion is a 50x50 outer join; wall time rides
      // the two corpus scans (BM25 tokenize + dense cosine)
      "q_text_hybrid_rrf")
    // optional comma-separated subset for fast local iteration; the
    // driver never sets it → full sweep
    val ops = sys.env.get("SPARK_GRAFT_STRESS_OPS")
      .map(s => allOps.filter(s.split(",").map(_.trim).toSet))
      .getOrElse(allOps)

    // q_dedup_semantic scales its cell count with the corpus (the
    // SemDeDup recipe: constant per-cell pairwise work); everything else
    // runs identically at both sizes
    def configure(op: String, reps: Int): Unit =
      if (op == "q_dedup_semantic")
        spark.conf.set("spark.graft.semdedup.k", (16 * reps).toString)

    // warm-up (parser, codegen, parquet readers) outside measured regions
    spark.read.parquet(new java.io.File(d1, "documents.parquet").getPath)
      .write.format("noop").mode("overwrite").save()
    spark.sql("SELECT md5('warmup') AS h").collect()

    // ---- declared per-operator bounds --------------------------------
    // Round 8's uniform "time ≤ 3·r" slack let an essentially quadratic
    // term pass (semantic dedup measured 18.9× at r=10 under a 30×
    // bound). Each operator now declares the bound its DESIGN claims:
    //   time: wall ratio at r× — linear ops on a fixed-size local[32]
    //     are fixed-cost-dominated at sf0.1, so proportional growth
    //     shows up well below r (family measured 0.5–2.7 at r=10);
    //     declared ≈ 2× the r8 measurement, far below proportional.
    //   rows: "linear" output scales ~r (bound 1.5·r); "fixed" output
    //     is corpus-size-independent (bound 3).
    //   shuffle-read max task: the flat-task claim — no key/exchange
    //     concentration, so the biggest shuffle-read task stays ~flat
    //     (bound declared per op; metadata-sized shuffles get the 2×
    //     default, corpus-sized-by-design exchanges declare more).
    //   scan-input max task: grows with per-file bytes (fixed 32-file
    //     staging ⇒ ~r×); bounded at 1.5·r and in production by
    //     files.maxPartitionBytes — not a hot-key signal.
    //   corpusShuffle: ops whose largest exchange is corpus-sized BY
    //     DESIGN (the span gram join, PageRank's rank/contribution
    //     shuffles over r×-more nodes): under the fixed 32-partition
    //     layout a BALANCED corpus exchange grows ≤ r per task, so the
    //     bound is r, and concentration beyond balanced growth still
    //     fails. (In production these exchanges scale partition count
    //     with data / AQE-split; the per-task contract is the same.)
    // Time-bound calibration (r = 10): warm min-of-N measurements put the
    // family at 0.9–2.8× except the text ops whose replica payloads carry
    // the ~1.5× token interleave inflation (total chars measured 14.8×
    // at 10×): lm_score/dsir sit at ~5.3× = one-third of char-
    // proportional. Declared bounds are ~2× the warm measurement — every
    // one of them far below proportional, and a quadratic term (the
    // pre-fix semantic dedup measured 18.9× even cold) fails ALL of them
    // loudly instead of slipping under a 3·r blanket.
    final case class Bounds(time: Double, linearRows: Boolean, shuffle: Double,
        corpusShuffle: Boolean = false)
    val defB = Bounds(time = 3.5, linearRows = true, shuffle = 2.0)
    val bounds: Map[String, Bounds] = Map(
      "q_dedup_minhash_lsh" -> defB,
      "q_dedup_clusters" -> defB,
      "q_dedup_incremental" -> defB.copy(time = 4.0),
      "q_kmeans" -> defB.copy(linearRows = false),
      "q_curation_domain_cap" -> defB.copy(linearRows = false),
      "q_text_bpe_encode" -> defB.copy(time = 8.0),
      "q_text_lm_score" -> defB.copy(time = 8.0),
      "q_embed_covariance" -> defB.copy(time = 4.5, linearRows = false),
      // post-fix two-level assignment measured 1.5-2.9× at r=10; the
      // declared 4.0 still FAILS the pre-fix 18.9× n·k assignment loudly
      "q_dedup_semantic" -> defB.copy(time = 4.0),
      "q_dedup_blocks" -> defB.copy(time = 4.5),
      "q_embed_pca" -> defB,
      "q_text_cms" -> defB.copy(linearRows = false),
      "q_curation_shards" -> defB.copy(linearRows = false),
      "q_curation_dsir" -> defB.copy(time = 8.0, linearRows = false),
      "q_curation_quality_band" -> defB,
      "q_dedup_minhash_eval" -> defB.copy(time = 4.0, linearRows = false),
      "q_graph_pagerank" -> defB.copy(time = 4.5, linearRows = false, corpusShuffle = true),
      "q_dedup_spans" -> defB.copy(time = 4.5, corpusShuffle = true),
      // r9: bloom build is one fixed-size buffer per partition; the gram
      // prefilter + confirm join are linear in surviving grams
      "q_curation_bloom_decontam" -> defB.copy(time = 4.0),
      // r9: bigram agg is linear; measured 1.39× at r=10 (the replica
      // token interleave did not bite — the interleave tokens dominate
      // the bigram table but combine map-side); top-30 output
      "q_text_pmi" -> defB.copy(linearRows = false),
      // r9: two md5 projections + a co-partitioned full outer join on
      // (key, hash) pairs; diff rows scale with the corpus
      "q_cdc_snapshot_diff" -> defB.copy(time = 3.5),
      // r9 batch 2: the funnel's exchange is corpus-sized by design but
      // per-user groups are constant-size across replicas — shuffle-read
      // per task grows only with rows-per-partition under the fixed
      // 32-partition layout (≤ r balanced), so corpusShuffle; one output
      // row regardless of corpus
      "q_events_funnel" -> defB.copy(linearRows = false, corpusShuffle = true),
      // r9 batch 2: same join shape as the snapshot diff, history rows
      // scale with the corpus
      "q_cdc_scd2" -> defB,
      // r10: partitioned wire scan — ranges tile the key space with a
      // FIXED ~5k-docs-per-range stride, so partition count scales with
      // the corpus and per-task rows stay FLAT (asserted inside the op:
      // a collapse back to one task, or a ballooning range, throws).
      // Wall time is linear work over growing parallelism; no shuffle.
      "q_src_wire_scan" -> defB.copy(time = 6.0, linearRows = false),
      // r10: the same contract through ES sliced scroll — slice count
      // scales with the corpus, each slice pages its own cursor
      "q_src_wire_es_scan" -> defB.copy(time = 6.0, linearRows = false),
      // r11: canonical-URL groups are a FIXED key space (the key derives
      // from doc_id residues the replica offsets permute within), so
      // output rows are corpus-size-independent; the one exchange keys
      // on the canonical value — metadata-sized next to the corpus
      "q_dedup_url" -> defB.copy(linearRows = false),
      // r11: shard assignment is a projection; the per-shard rank window
      // exchanges (doc_id, hash, shard) triples ACROSS the whole corpus —
      // a corpus-sized exchange BY DESIGN (measured 2.0x per task at 10x
      // under the fixed 16-shard gate layout; shard count is the
      // production scaling knob — 4 hex digits = 65 536 partitions keeps
      // every shard executor-sized)
      "q_curation_epoch_shuffle" -> defB.copy(corpusShuffle = true),
      // r11: one-pass token projections over the replica payloads, which
      // carry the ~1.5x char interleave inflation like lm_score/dsir —
      // same declared headroom as those text ops
      "q_text_gopher_rules" -> defB.copy(time = 8.0),
      // r11: deflate is linear in input BYTES, so the interleave
      // inflation applies directly; per-row zlib otherwise flat
      "q_text_compress_ratio" -> defB.copy(time = 8.0),
      // r12: hashed-feature scoring is one md5+fold pass over tokens —
      // the interleave roughly doubles tokens per doc, so char-class
      // headroom like the other text projections
      "q_text_classifier" -> defB.copy(time = 8.0),
      // r12 (reworked r13): per-doc tf is ONE native term_freqs pass per
      // row; the df agg is vocab-sized and min-df-pruned before its
      // broadcast, and the top-k window exchanges (doc, term) pairs
      // across the corpus BY DESIGN (WindowGroupLimit pre-prunes to
      // <=3/doc/partition before the exchange)
      "q_text_keywords" -> defB.copy(time = 8.0, corpusShuffle = true),
      // r12: gram covers are ONE native O(grams) hash-map pass per row
      // (gram_covers expression) — a pure projection like the classifier,
      // so it keeps the strict flat-shuffle default (measured 1.6x/1.0x
      // at 10x); the interpreted formulations it replaced measured 21x
      "q_text_repetition" -> defB.copy(time = 8.0),
      // r12: one user_id exchange of the events corpus BY DESIGN, then a
      // bounded ROWS frame; disjoint user replicas keep per-task flat up
      // to the r x corpus growth
      "q_events_anomaly" -> defB.copy(linearRows = true, corpusShuffle = true),
      // r13: mojibake repair + NFC is linear in chars — the replica
      // interleave inflation applies directly, like deflate/compress
      "q_text_fix_encoding" -> defB.copy(time = 8.0),
      // banded near-dup arms: the (slot/band) exchange carries ~4 rows
      // per clip — corpus-sized BY DESIGN, balanced growth ≤ r per task
      // under the fixed 32-partition layout; pair output scales with the
      // planted-twin density (~linear); synth/decode time rides the
      // interleave-inflated payload chars like the other text ops
      "q_audio_fp_neardup" -> defB.copy(time = 8.0, corpusShuffle = true),
      "q_video_phash_neardup" -> defB.copy(time = 4.5, corpusShuffle = true),
      // fixed 3-query output; the probe join materializes ~NProbe/KC of
      // the corpus into the per-query ranking window — corpus-sized by
      // design; two k-means trainings dominate wall time
      "q_ann_ivf_incremental" -> defB.copy(time = 4.5, linearRows = false,
        corpusShuffle = true),
      // output fixed at top-10 regardless of corpus; the BM25 (doc,term)
      // aggregation is the only corpus-sized exchange
      "q_text_hybrid_rrf" -> defB.copy(time = 5.0, linearRows = false,
        corpusShuffle = true))

    final case class Obs(sec: Double, rows: Long, maxInMb: Double, maxShMb: Double,
        top: Seq[(Int, String, Long, Long)])
    def runOnce(name: String, dir: String): Obs = {
      spark.catalog.clearCache()
      System.gc()
      listener.reset()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries.getOrElse(name, stressOnlyOps(name))(spark, dir)
      // execute the physical plan AS PLANNED and count its rows: a
      // df.count() would let Catalyst prune every computed column out of
      // pure-projection operators (BPE encode would degrade to a parquet
      // row count answered from footer metadata)
      val rows = df.queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the async listener bus drain task events
      Obs(dt, rows, listener.maxInput / 1048576.0, listener.maxShuffle / 1048576.0,
        listener.top(4))
    }
    // min-of-N wall time: the single-shot timer was JIT/GC-noise-bound
    // (one r8 run clocked an op 6x slower at 1x than at 10x); min is the
    // right estimator for "the cost of the work" under additive noise.
    // rows/task-bytes are deterministic — taken from the last repetition.
    val stressReps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "3").toInt.max(1)
    def run(name: String, dir: String): Obs = {
      val os = (1 to stressReps).map(_ => runOnce(name, dir))
      os.last.copy(sec = os.map(_.sec).min)
    }

    val diagOps = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIAG", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    var failed = List.empty[String]
    val rows = ops.map { op =>
      configure(op, 1)
      val o1 = run(op, d1.getPath)
      configure(op, r)
      val oR = run(op, dR.getPath)
      def ratio(a: Double, b: Double): Double = if (a > 0) b / a else -1
      val b = bounds.getOrElse(op, defB)
      val tR = ratio(o1.sec, oR.sec)
      val rowsR = ratio(o1.rows.toDouble, oR.rows.toDouble)
      // floor tiny absolute values at 1 MB before ratioing: a 0.1→0.6 MB
      // metadata shuffle is not a 6× hot spot
      val inR = ratio(math.max(o1.maxInMb, 1.0), math.max(oR.maxInMb, 1.0))
      val shR = ratio(math.max(o1.maxShMb, 1.0), math.max(oR.maxShMb, 1.0))
      val rowsBound = if (b.linearRows) 1.5 * r else 3.0
      val shBound = if (b.corpusShuffle) r.toDouble else b.shuffle
      if (rowsR > rowsBound) failed ::= s"$op rows blow-up: x$rowsR (bound $rowsBound)"
      if (tR > b.time) failed ::= s"$op time blow-up: x$tR (bound ${b.time})"
      if (shR > shBound) failed ::= s"$op shuffle-task hot spot: x$shR (bound $shBound)"
      if (inR > 1.5 * r) failed ::= s"$op scan-split blow-up: x$inR (bound ${1.5 * r})"
      System.err.println(f"[stress] $op%-24s 1x: ${o1.sec}%6.2fs ${o1.rows}%8d rows " +
        f"in=${o1.maxInMb}%6.1f sh=${o1.maxShMb}%6.1fMB | ${r}x: ${oR.sec}%6.2fs " +
        f"${oR.rows}%8d rows in=${oR.maxInMb}%6.1f sh=${oR.maxShMb}%6.1fMB | " +
        f"ratios t=$tR%4.1f rows=$rowsR%4.1f in=$inR%4.1f sh=$shR%4.1f")
      if (diagOps.contains(op)) {
        System.err.println(s"[stress]   $op heaviest stages at 1x:")
        o1.top.foreach { case (id, n, in, sh) => System.err.println(
          f"[stress]     stage $id%4d in=${in / 1048576.0}%7.1fMB sh=${sh / 1048576.0}%7.1fMB  ${n.take(140)}") }
        System.err.println(s"[stress]   $op heaviest stages at ${r}x:")
        oR.top.foreach { case (id, n, in, sh) => System.err.println(
          f"[stress]     stage $id%4d in=${in / 1048576.0}%7.1fMB sh=${sh / 1048576.0}%7.1fMB  ${n.take(140)}") }
      }
      s""""$op":{"sec_1x":${o1.sec},"sec_${r}x":${oR.sec},"time_ratio":$tR,""" +
        s""""rows_1x":${o1.rows},"rows_${r}x":${oR.rows},"rows_ratio":$rowsR,""" +
        s""""max_task_in_mb_1x":${o1.maxInMb},"max_task_in_mb_${r}x":${oR.maxInMb},""" +
        s""""max_task_sh_mb_1x":${o1.maxShMb},"max_task_sh_mb_${r}x":${oR.maxShMb},""" +
        s""""max_task_ratio":$inR,"max_shuffle_task_ratio":$shR,""" +
        s""""time_bound":${b.time},"shuffle_bound":$shBound,""" +
        s""""rows_bound":$rowsBound,"scan_split_bound":${1.5 * r}}"""
    }
    val line = s"""{"metric":"stress","replication":$r,"sf":"$sfDir",""" +
      s""""operators":{${rows.mkString(",")}},""" +
      s""""failed":[${failed.map(f => "\"" + f + "\"").mkString(",")}]}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
    // explicit exit (see Verify/Bench): leaked non-daemon threads must
    // not stall the driver's stress collection
    sys.exit(if (failed.nonEmpty) 1 else 0)
  }
}
