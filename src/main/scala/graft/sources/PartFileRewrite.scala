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
  *      (UPDATE); every other row is copied, into a `<file>.gupd` temp.
  *      Each file reports rows written, rows hit and the fresh min/max of
  *      its first key; a file without a hit removes its temp.
  *   3. One driver-side commit: a file with at least one hit is swapped
  *      for its temp (checked delete + rename) or, left empty, deleted. A
  *      file without a hit keeps its bytes and inode. The sidecar entries
  *      of swapped files get their fresh ranges and row counts; those of
  *      deleted files go.
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
    table.keys.headOption
      .flatMap(k => table.schema0.fields.find(_.name.equalsIgnoreCase(k)))
      .filter(_ => filters.nonEmpty)
      .map(f => KeyPrune.prune(files, f.name, f.dataType, table.dir, filters))
      .getOrElse(files)
  }

  /** DELETE WHERE: drop the rows matching every filter, evaluated the way
    * the scan evaluates a pushed filter ([[FilterEval]]). No filter at
    * all is TRUNCATE: every part file goes, unread. */
  def deleteWhere(table: FileTable, filters: Seq[Filter]): Unit =
    if (filters.isEmpty) commit(table, swapped = Nil, emptied = table.dataFiles())
    else {
      val sch = table.schema0
      run(table, touchedFiles(table, filters), dropHits = true) { () =>
        val matches = filters.map(FilterEval.compile(_, sch))
        row => matches.forall(_(row))
      }
    }

  /** UPSERT's delete half: drop every row whose key tuple equals one of
    * `keyRows` (values of the table's key types, in `table.keys` order).
    * Parts compare the way [[FilterEval]] compares; a null part never
    * matches. */
  def deleteKeys(table: FileTable, keyRows: Seq[Seq[Any]]): Unit = {
    val live = keyRows.filterNot(_.contains(null))
    if (live.isEmpty) return
    val idx = table.keys.map(k => table.schema0.fieldNames.indexWhere(_.equalsIgnoreCase(k)))
    val wanted = live.map(_.map(FilterEval.norm)).toSet
    val touched = touchedFiles(table,
      Seq(org.apache.spark.sql.sources.In(table.keys.head, live.map(_.head).distinct.toArray)))
    run(table, touched, dropHits = true)(() => row => wanted(idx.map(i => FilterEval.norm(row(i)))))
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
          val base = cdc.reader(in, sch)
          new Iterator[(Array[Any], String, Boolean)] {
            private var closed = false
            def hasNext: Boolean = {
              if (closed) return false
              val h = base.hasNext
              if (!h) { in.close(); closed = true }
              h
            }
            def next(): (Array[Any], String, Boolean) = {
              val row = base.next()
              (row, path, isHit(row))
            }
          }
        }
      }
  }

  private def run(table: FileTable, touched: Seq[File], dropHits: Boolean)(
      hit: () => Array[Any] => Boolean): Long =
    if (touched.isEmpty) 0L
    else pass(table, scan(SparkSession.active, table, touched)(hit), dropHits)

  /** One touched file's report from the executor pass. */
  private final case class Outcome(
      path: String, written: Long, hits: Long, keyMin: String, keyMax: String)

  /** The executor-side pass: stream each file's rows into its temp, then
    * commit on the driver. Returns the number of hit rows. */
  private def pass(
      table: FileTable, rows: RDD[(Array[Any], String, Boolean)], dropHits: Boolean): Long = {
    val fmt = table.format
    val schemaJson = table.schema0.json
    val keyIdx = table.keys.headOption
      .map(k => table.schema0.fieldNames.indexWhere(_.equalsIgnoreCase(k)))
      .getOrElse(-1)
    val outcomes = rows.mapPartitions { it =>
      val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val cdc = FileCodec.forFormat(fmt)
      final class St(val path: String) {
        val tmp = new File(path + TmpSuffix)
        val out: java.io.BufferedWriter = FileCodec.utf8Writer(tmp)
        cdc.writeHeader(out, sch)
        var keyMin: Any = null
        var keyMax: Any = null
        var written = 0L
        var hits = 0L
      }
      val open = mutable.LinkedHashMap.empty[String, St]
      try {
        it.foreach { case (row, path, hit) =>
          val st = open.getOrElseUpdate(path, new St(path))
          if (hit) st.hits += 1
          if (!(hit && dropHits)) {
            if (keyIdx >= 0 && row(keyIdx) != null) {
              val k = row(keyIdx)
              if (st.keyMin == null || FilterEval.cmp(k, st.keyMin).exists(_ < 0)) st.keyMin = k
              if (st.keyMax == null || FilterEval.cmp(k, st.keyMax).exists(_ > 0)) st.keyMax = k
            }
            st.written += 1
            cdc.write(st.out, row, sch)
          }
        }
      } catch {
        case e: Throwable =>
          open.values.foreach { st => st.out.close(); st.tmp.delete() }
          throw e
      }
      open.values.map { st =>
        st.out.close()
        if (st.hits == 0 || st.written == 0) st.tmp.delete()
        Outcome(st.path, st.written, st.hits,
          LineCodec.render(st.keyMin), LineCodec.render(st.keyMax))
      }.toList.iterator
    }.collect() // metadata-sized: one outcome per touched file with rows
    if (outcomes.groupBy(_.path).values.exists(_.length > 1)) {
      outcomes.foreach(o => new File(o.path + TmpSuffix).delete())
      throw new IllegalStateException("part-file rewrite rows crossed partitions " +
        "(a shuffle broke file alignment); aborting before any file is replaced")
    }
    val (emptied, swapped) = outcomes.toSeq.filter(_.hits > 0).partition(_.written == 0)
    commit(table, swapped, emptied.map(o => new File(o.path)))
    outcomes.map(_.hits).sum
  }

  /** The driver-side commit: swap in the files that kept rows, delete the
    * emptied ones, refresh the sidecar. */
  private def commit(table: FileTable, swapped: Seq[Outcome], emptied: Seq[File]): Unit = {
    swapped.foreach { o =>
      val f = new File(o.path)
      if (!f.delete() || !new File(o.path + TmpSuffix).renameTo(f))
        throw new IllegalStateException(s"rewrite swap failed for ${o.path}")
    }
    emptied.foreach { f =>
      if (!f.delete())
        throw new IllegalStateException(s"rewrite could not delete emptied ${f.getPath}")
    }
    // rows stay in their file, so a swapped file keeps its bucket id
    val prior = KeyRanges.load(table.dir)
    KeyRanges.merge(table.dir, swapped.map { o =>
      val name = new File(o.path).getName
      name -> FileMeta(o.keyMin, o.keyMax, o.written,
        prior.get(name).map(_.bucket).getOrElse(-1))
    }.toMap, drop = emptied.map(_.getName).toSet)
  }
}
