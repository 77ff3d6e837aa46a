package graft.sources

import java.io.File

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, Attribute, EqualTo => CEqualTo, Expression, GreaterThan => CGt, GreaterThanOrEqual => CGte, In => CIn, InSet, LessThan => CLt, LessThanOrEqual => CLte, Literal, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** The one part-file rewrite behind keyed DML on [[FileTable]]s: DELETE,
  * UPDATE and UPSERT each supply only their hit rule (reference: per-key
  * read-modify-write, backends/datastore/sql_to_datastore.go:218-360, and
  * delete-by-where, backends/cassandra/sql_to_cql.go:368-394).
  *
  *   1. Pruning: the KeyRanges sidecar drops every part file whose key
  *      range cannot hold a hit ([[touchedFiles]]), so a one-key statement
  *      opens one file, not the table.
  *   2. One executor-side pass in one Spark job, one task per touched
  *      file: each decoded row carries its source file and a hit flag. A
  *      hit row is dropped (DELETE, UPSERT) or written with its new values
  *      (UPDATE); every other row is copied, through a [[PartFileSink]],
  *      into a `<file>.gupd` temp. A file without a hit removes its temp.
  *      UPSERT's incoming rows go to a new part file (one per bucket) in
  *      one more task of the same job, as an INSERT task writes them.
  *   3. One driver-side commit ([[PartFileSink.commit]]): a file with at
  *      least one hit is replaced by its temp or, left empty, deleted; a
  *      file without a hit keeps its bytes and inode; new files move into
  *      place; `_keyranges.json` is written once.
  *
  * Each file swap is atomic; the statement as a whole is not transactional
  * (the connector has no transaction log, like the reference's backends).
  */
object PartFileRewrite {

  /** Column carrying each decoded row's source part-file path. */
  private val SrcCol = "_gsrc_file"
  private val TmpSuffix = ".gupd"

  /** Translate each top-level conjunct of an already-@-substituted SQL
    * condition into a DSv2 filter, None where it has no filter form.
    * Pruning uses the conjuncts that translate (dropping one only widens
    * the touched-file set); a caller that uses the filters AS the
    * predicate (the wire UPDATEs) must require every one. */
  def condFilters(spark: SparkSession, tableName: String, cond: String): Seq[Option[Filter]] = {
    val plan = spark.table(tableName)
      .filter(org.apache.spark.sql.functions.expr(cond))
      .queryExecution.analyzed
    val conjuncts = plan.collect { case f: logical.Filter => split(f.condition) }.flatten
    // the ANALYZED plan wraps literals in casts (id = 2 on a BIGINT
    // column is EqualTo(id, cast(2 as bigint))); fold every foldable
    // subtree to a literal so translation sees the plain shape — using
    // the optimizer instead would also inject inferred IsNotNull
    // conjuncts the caller never wrote. A subtree that fails to fold
    // stays as it is, and its conjunct does not translate.
    conjuncts.map(c => toFilter(c.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Try(Literal.create(e.eval(null), e.dataType)).getOrElse(e)
    }))
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case CatalystAnd(l, r) => split(l) ++ split(r)
    case other => Seq(other)
  }

  /** Catalyst conjunct → v1 source filter, covering exactly the shapes
    * [[KeyPrune]] can use (point, IN, range, prefix on a plain column).
    * Literal values convert to their external form, the same
    * representation Spark's own pushdown hands the scan. */
  private def toFilter(e: Expression): Option[Filter] = {
    import org.apache.spark.sql.sources
    def ext(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    e match {
      case CEqualTo(a: Attribute, l: Literal) => Some(sources.EqualTo(a.name, ext(l)))
      case CEqualTo(l: Literal, a: Attribute) => Some(sources.EqualTo(a.name, ext(l)))
      case CIn(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(sources.In(a.name, vs.map(v => ext(v.asInstanceOf[Literal])).toArray))
      case InSet(a: Attribute, vs) =>
        Some(sources.In(a.name, vs.map(v =>
          CatalystTypeConverters.convertToScala(v, a.dataType)).toArray))
      case CGt(a: Attribute, l: Literal) => Some(sources.GreaterThan(a.name, ext(l)))
      case CGt(l: Literal, a: Attribute) => Some(sources.LessThan(a.name, ext(l)))
      case CGte(a: Attribute, l: Literal) => Some(sources.GreaterThanOrEqual(a.name, ext(l)))
      case CGte(l: Literal, a: Attribute) => Some(sources.LessThanOrEqual(a.name, ext(l)))
      case CLt(a: Attribute, l: Literal) => Some(sources.LessThan(a.name, ext(l)))
      case CLt(l: Literal, a: Attribute) => Some(sources.GreaterThan(a.name, ext(l)))
      case CLte(a: Attribute, l: Literal) => Some(sources.LessThanOrEqual(a.name, ext(l)))
      case CLte(l: Literal, a: Attribute) => Some(sources.GreaterThanOrEqual(a.name, ext(l)))
      case StartsWith(a: Attribute, l: Literal) =>
        Option(ext(l)).collect { case p: String => sources.StringStartsWith(a.name, p) }
      case _ => None
    }
  }

  /** The table's part files that can hold a row matching `filters`: a
    * file is skipped only when its KeyRanges entry PROVES no matching row
    * lives there. Keyless tables keep every file. */
  private def touchedFiles(table: FileTable, filters: Seq[Filter]): Seq[File] = {
    val files = table.dataFiles()
    KeyPrune.hookFor(table).filter(_ => filters.nonEmpty)
      .map { case (k, dt, _) => KeyPrune.prune(files, k, dt, table.dir, filters) }
      .getOrElse(files)
  }

  /** DELETE WHERE: drop the rows matching every filter, evaluated the way
    * the scan evaluates a pushed filter ([[FilterEval]]). No filter at
    * all is TRUNCATE: every part file goes, unread. */
  def deleteWhere(table: FileTable, filters: Seq[Filter]): Unit =
    if (filters.isEmpty) PartFileSink.commit(table.dir, Nil, emptied = table.dataFiles())
    else {
      val touched = touchedFiles(table, filters)
      val sch = table.schema0
      if (touched.nonEmpty) pass(table, scan(SparkSession.active, table, touched) { () =>
        val matches = filters.map(FilterEval.compile(_, sch))
        row => matches.forall(_(row))
      }, dropHits = true)
    }

  /** UPSERT: drop every row whose key tuple equals one of `incoming`'s and
    * write `incoming` (rows of the table's schema, already typed as an
    * INSERT stores them) to a new part file, one per bucket — one job, one
    * commit. Key parts compare the way [[FilterEval]] compares; a null
    * part never matches. */
  def upsert(spark: SparkSession, table: FileTable, incoming: Seq[Array[Any]]): Unit = {
    val idx = table.keys.map(k => table.schema0.fieldNames.indexWhere(_.equalsIgnoreCase(k)))
    val live = incoming.map(r => idx.map(r(_))).filterNot(_.contains(null))
    val wanted = live.map(_.map(FilterEval.norm)).toSet
    val touched = if (live.isEmpty) Nil else touchedFiles(table,
      Seq(org.apache.spark.sql.sources.In(table.keys.head, live.map(_.head).distinct.toArray)))
    val added = spark.sparkContext.parallelize(incoming, 1)
      .map(row => (row, null: String, false))
    pass(table,
      if (touched.isEmpty) added
      else scan(spark, table, touched)(() => row => wanted(idx.map(i => FilterEval.norm(row(i)))))
        .union(added),
      dropHits = true)
  }

  /** UPDATE: every row where `cond` holds (NULL is no hit, as in WHERE)
    * is written with `sets` (column → new value); Catalyst evaluates both
    * against the ORIGINAL row, in one projection. `filters` prune the
    * files as in [[touchedFiles]]. Returns the number of hit rows. */
  def update(spark: SparkSession, table: FileTable, filters: Seq[Filter],
      cond: Column, sets: Seq[(String, Column)]): Long = {
    val touched = touchedFiles(table, filters)
    if (touched.isEmpty) return 0L
    val hit = coalesce(cond, lit(false))
    val fields = table.schema0.fieldNames.toSeq
    val decoded = spark.createDataFrame(
      scan(spark, table, touched)(() => _ => false).map { case (row, path, _) =>
        Row.fromSeq(row.toSeq :+ path)
      },
      table.schema0.add(SrcCol, StringType))
    // a projection only: each row stays in its file's partition
    val n = fields.size
    val rows = decoded.select(fields.map { c =>
      sets.collectFirst { case (sc, v) if sc.equalsIgnoreCase(c) =>
        when(hit, v).otherwise(col(c)).as(c)
      }.getOrElse(col(c))
    } :+ col(SrcCol) :+ hit: _*)
      .rdd.map(r => (Array.tabulate[Any](n)(r.get), r.getString(n), r.getBoolean(n + 1)))
    pass(table, rows, dropHits = false)
  }

  /** Decode `files` on executors, one partition per file, through the
    * table's own codec (so the rewrite round-trips exactly): each row
    * comes with its path and its verdict under the hit rule `hit` builds
    * (built on the executor, as compiled filters do not serialize). */
  private def scan(spark: SparkSession, table: FileTable, files: Seq[File])(
      hit: () => Array[Any] => Boolean): RDD[(Array[Any], String, Boolean)] = {
    val fmt = table.format
    val schemaJson = table.schema0.json
    spark.sparkContext
      .parallelize(files.map(_.getPath), math.max(1, files.size))
      .mapPartitions { paths =>
        val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        val cdc = FileCodec.forFormat(fmt)
        val isHit = hit()
        paths.flatMap { path =>
          val in = FileCodec.utf8Reader(new File(path))
          cdc.reader(in, sch).map(row => (row, path, isHit(row))) ++ { in.close(); Iterator.empty }
        }
      }
  }

  /** One file's report from the executor pass: `src` is the touched file
    * (null for a file of UPSERT's incoming rows), `hits` its hit rows,
    * `entry` the written temp (None: no hit, or every row dropped). */
  private final case class Outcome(src: String, hits: Long, entry: Option[FileEntry])

  /** The executor-side pass: stream each touched file's rows into its
    * temp and rows without a source into new part files, then commit on
    * the driver. Returns the number of hit rows. */
  private def pass(
      table: FileTable, rows: RDD[(Array[Any], String, Boolean)], dropHits: Boolean): Long = {
    val fmt = table.format
    val schemaJson = table.schema0.json
    val keyIdx = table.keyIdx
    val dirPath = table.dir.getPath
    val buckets = table.buckets
    val queryId = java.util.UUID.randomUUID().toString
    val outcomes = rows.mapPartitionsWithIndex { (part, it) =>
      val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val cdc = FileCodec.forFormat(fmt)
      val sinks = mutable.LinkedHashMap.empty[String, PartFileSink]
      val hits = mutable.Map.empty[String, Long].withDefaultValue(0L)
      lazy val added = new FileDataWriter(dirPath, fmt, schemaJson, queryId, part,
        org.apache.spark.TaskContext.get().taskAttemptId(), keyIdx, buckets)
      try it.foreach { case (row, path, hit) =>
        if (path == null) added.write(row)
        else {
          val sink = sinks.getOrElseUpdate(path, new PartFileSink(cdc, sch, keyIdx,
            new File(path + TmpSuffix), new File(path).getName, -1))
          if (hit) hits(path) += 1
          if (!(hit && dropHits)) sink.write(row)
        }
      } catch {
        case e: Throwable =>
          sinks.values.foreach(_.abort())
          added.abort()
          throw e
      }
      (sinks.map { case (path, sink) =>
        if (hits(path) == 0) sink.abort()
        Outcome(path, hits(path), sink.finish())
      } ++ added.finish().map(e => Outcome(null, 0L, Some(e)))).iterator
    }.collect() // metadata-sized: one outcome per touched or written file
    val rewritten = outcomes.filter(_.src != null)
    if (rewritten.groupBy(_.src).values.exists(_.length > 1)) {
      outcomes.flatMap(_.entry).foreach(e => new File(e.tmpPath).delete())
      throw new IllegalStateException("part-file rewrite rows crossed partitions " +
        "(a shuffle broke file alignment); aborting before any file is replaced")
    }
    // rows stay in their file, so a rewritten file keeps its bucket id
    val prior = KeyRanges.load(table.dir)
    PartFileSink.commit(table.dir,
      outcomes.toSeq.flatMap(o => o.entry.map(e =>
        if (o.src == null) e
        else e.copy(bucket = prior.get(e.finalName).map(_.bucket).getOrElse(-1)))),
      emptied = rewritten.toSeq.filter(o => o.hits > 0 && o.entry.isEmpty).map(o => new File(o.src)))
    rewritten.map(_.hits).sum
  }
}
