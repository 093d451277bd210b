package graft.api

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import graft.geo.Geom
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.column.statistics.{BinaryStatistics, DoubleStatistics}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, Predicate, SpecificInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/**
 * Point queries over a stored parquet table answered on the driver from its
 * row groups: the Spark analog of the reference's client-side modes (the
 * KNN client's prefix scans and merge, KNNQuery.java:42-91; WithinQuery's
 * "local" mode, which scans the candidate key ranges and refines each row
 * in the client, WithinQuery.java:104-174), with the bounds the layout
 * already stores in place of key ranges.
 *
 * Every row group's footer carries the min/max of `lon`, `lat` and, on a
 * geohash layout, `geohash`. The footers are read once per table into a
 * small cached list; rows come from Spark's own parquet reader, and each
 * query plans no Spark job.
 *
 *  - [[knn]] reads row groups in order of the planar distance from the
 *    origin to their `lon`/`lat` box, a lower bound on the distance of every
 *    point in the group, into a k-heap, and stops once the heap holds k rows
 *    whose k-th distance is at most the next group's bound: no unread point
 *    can then be closer. Exact by construction, at poles and across the
 *    antimeridian too, since distance is planar in degrees.
 *  - [[within]] reads only the row groups whose statistics can hold a
 *    match, and keeps the rows that pass the distributed plan's own filter
 *    condition, so both paths keep the same rows.
 */
private[graft] object RowGroups {

  /** Rows one KNN query may read on the driver before the caller falls
    * back to its distributed plan. */
  val RowBudget: Long = 1L << 20

  /** Rows one within may read on the driver. It keeps its matches, so it
    * builds its result on one thread, and past about this many rows read
    * the distributed plan is faster: on 4 cores, 88k rows read took 168 ms
    * on the driver against 184 ms distributed, 175k rows 299 against
    * 201 ms, and 800k rows 3.1 s against 0.5 s. */
  val WithinRowBudget: Long = 1L << 17

  /** What one query did: row groups in the layout (0 when `points` is not
    * a stored parquet table), row groups and rows read, and whether the
    * driver answered (false: the caller ran its distributed plan). */
  final case class Record(rowGroups: Int, rowGroupsRead: Int, rowsRead: Long,
                          proved: Boolean)

  /** Layouts kept at once; a serving process queries a few tables. */
  private val CacheEntries = 8

  /** One row group: the byte range of its file that selects it, its row
    * count, its `lon`/`lat` bounding box (NaN when the footer has no usable
    * statistics) and the min/max bytes of its geohash column (None when the
    * table has no string geohash column or the footer no statistics). */
  private final case class Group(file: PartitionedFile, rows: Long,
                                 lonMin: Double, lonMax: Double,
                                 latMin: Double, latMax: Double,
                                 geohash: Option[(Array[Byte], Array[Byte])]) {
    /** Lower bound on the distance from (lon, lat) to any point of the
      * group: the distance to the nearest point of its box, computed with
      * the operand order of the per-row distance, so that rounding keeps
      * it a lower bound. */
    def bound(lon: Double, lat: Double): Double =
      if (lonMin.isNaN || lonMax.isNaN || latMin.isNaN || latMax.isNaN) 0.0
      else Geom.euclidean(math.min(math.max(lon, lonMin), lonMax),
        math.min(math.max(lat, latMin), latMax), lon, lat)

    /** False only when the statistics prove that no point of the group lies
      * in the box (a NaN bound compares false, so the group is read). */
    def meets(xMin: Double, xMax: Double, yMin: Double, yMax: Double): Boolean =
      !(lonMax < xMin || lonMin > xMax || latMax < yMin || latMin > yMax)

    /** False only when the statistics prove that no geohash of the group
      * starts with one of `prefixes`: a value in [min, max] that starts with
      * p has p within [min, max] cut to p's length, compared as unsigned
      * bytes, as parquet's own `StartsWith` pushdown does. */
    def mayStartWith(prefixes: Seq[Array[Byte]]): Boolean = geohash.forall { case (lo, hi) =>
      prefixes.exists(p =>
        java.util.Arrays.compareUnsigned(lo.take(p.length), p) <= 0 &&
          java.util.Arrays.compareUnsigned(p, hi.take(p.length)) <= 0)
    }
  }

  /** A table's row groups, and one reader for them whose rows carry the
    * relation's columns in schema order (data columns, then partition
    * values). */
  private final case class Layout(groups: IndexedSeq[Group],
                                  read: PartitionedFile => Iterator[InternalRow],
                                  schema: StructType, lonIdx: Int, latIdx: Int)

  /** Keyed on everything the layout depends on: the session that built the
    * reader, the relation's schema and options, the three columns and the
    * file listing (path, length, modification time), so that a table
    * rewritten at the same path is read afresh. */
  private type Key = (SparkSession, StructType, Map[String, String], String, String, String,
    Seq[(String, Long, Long)])

  private val cache = new java.util.LinkedHashMap[Key, Layout](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Layout]): Boolean =
      size() > CacheEntries
  }

  /**
   * The k nearest rows of `points` to (lon, lat), with their `distance`
   * appended, as a local frame; None when `points` is not a bare scan of a
   * parquet table with double `lonCol`/`latCol` columns, or when the search
   * would read more than `rowBudget` rows. Null coordinates are never
   * neighbours; NaN distances order last, as in a Spark sort.
   */
  def knn(points: DataFrame, lon: Double, lat: Double, k: Int,
          lonCol: String, latCol: String, geohashCol: String,
          rowBudget: Long): (Option[DataFrame], Record) = {
    require(k >= 1, s"k must be positive, got k = $k")
    stored(points, lonCol, latCol, geohashCol) match {
      case None => (None, Record(0, 0, 0L, proved = false))
      case Some((_, layout)) =>
        val order = layout.groups.map(g => (g.bound(lon, lat), g))
          .sortBy(_._1)(Ordering.Double.TotalOrdering)
        // the total order puts NaN above every number, as a Spark sort does
        val byDistance = Ordering.by[(Double, InternalRow), Double](_._1)(
          Ordering.Double.TotalOrdering)
        val heap = new java.util.PriorityQueue(math.min(k, 1024) + 1, byDistance.reverse)
        val outSchema = StructType(layout.schema.fields :+
          StructField("distance", DoubleType))
        val project = UnsafeProjection.create(outSchema)
        val joined = new JoinedRow
        val dist = new SpecificInternalRow(Seq(DoubleType))
        def done(next: Double): Boolean = heap.size == k && heap.peek._1 <= next
        // the longest start of the visit order within the budget; the visit
        // stops earlier once the heap is done, checked after each group
        val affordable = order.iterator.scanLeft(0L)(_ + _._2.rows).drop(1)
          .takeWhile(_ <= rowBudget).length
        val (read, rows) = scan(layout,
            order.iterator.take(affordable).takeWhile(o => !done(o._1)).map(_._2)) { r =>
          if (!r.isNullAt(layout.lonIdx) && !r.isNullAt(layout.latIdx)) {
            val d = Geom.euclidean(r.getDouble(layout.lonIdx), r.getDouble(layout.latIdx),
              lon, lat)
            if (heap.size < k || Ordering.Double.TotalOrdering.lt(d, heap.peek._1)) {
              dist.setDouble(0, d)
              heap.add((d, project(joined(r, dist)).copy()))
              if (heap.size > k) heap.poll()
            }
          }
        }
        val proved = read == order.length || done(order(read)._1)
        val record = Record(order.length, read, rows, proved)
        if (!proved) (None, record)
        else {
          val sorted = heap.asScala.toSeq.sorted(byDistance).map(_._2)
          (Some(GraftShims.localFrame(points.sparkSession, outSchema, sorted)), record)
        }
    }
  }

  /**
   * The rows of `points` that `filtered` keeps, as a local frame with the
   * relation's columns in schema order; None when `points` is not a bare
   * scan of a parquet table with double `lonCol`/`latCol` columns, when
   * `filtered` is not one filter over `points`, or when the row groups
   * that can hold a match have more than `rowBudget` rows.
   *
   * A row group is skipped only when its statistics prove that it holds no
   * match: its `lon`/`lat` box misses `bbox` (xMin, xMax, yMin, yMax), or,
   * given `prefixes`, no geohash in it can start with one of them. So the
   * caller passes only bounds that `filtered`'s condition implies. Each row
   * of the other groups is kept when that condition, bound once to the
   * relation's output, holds for it.
   */
  def within(points: DataFrame, filtered: DataFrame,
             bbox: (Double, Double, Double, Double), prefixes: Option[Seq[String]],
             lonCol: String, latCol: String, geohashCol: String,
             rowBudget: Long): (Option[DataFrame], Record) =
    stored(points, lonCol, latCol, geohashCol) match {
      case None => (None, Record(0, 0, 0L, proved = false))
      case Some((relation, layout)) =>
        val fallback = (None, Record(layout.groups.length, 0, 0L, proved = false))
        filtered.queryExecution.analyzed match {
          case Filter(cond, r: LogicalRelation) if r == relation =>
            val (xMin, xMax, yMin, yMax) = bbox
            val keys = prefixes.map(_.map(_.getBytes("UTF-8")))
            val selected = layout.groups.filter(g =>
              g.meets(xMin, xMax, yMin, yMax) && keys.forall(g.mayStartWith))
            if (selected.iterator.map(_.rows).sum > rowBudget) fallback
            else {
              val keep = Predicate.create(cond, relation.output)
              keep.initialize(0)
              val project = UnsafeProjection.create(layout.schema)
              // an array-backed Seq: every rule that maps a plan's expressions
              // also maps a local relation's rows, and maps an array fastest
              val out = Array.newBuilder[InternalRow]
              val (read, rows) = scan(layout, selected.iterator) { r =>
                if (keep.eval(r)) out += project(r).copy()
              }
              (Some(GraftShims.localFrame(points.sparkSession, layout.schema,
                ArraySeq.unsafeWrapArray(out.result()))),
                Record(layout.groups.length, read, rows, proved = true))
            }
          case _ => fallback
        }
    }

  /** Reads `groups` in order, calling `f` on each row (the reader reuses its
    * row objects: copy what is kept), and checks each group's row count
    * against its footer; returns the row groups and rows read. */
  private def scan(layout: Layout, groups: Iterator[Group])(f: InternalRow => Unit): (Int, Long) = {
    var read = 0
    var rows = 0L
    groups.foreach { g =>
      val it = layout.read(g.file)
      var n = 0L
      try {
        while (it.hasNext) {
          f(it.next())
          n += 1
        }
      } finally it match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
      if (n != g.rows) throw new IllegalStateException(
        s"row group at ${g.file.filePath} offset ${g.file.start}: read $n rows, footer says ${g.rows}")
      rows += n
      read += 1
    }
    (read, rows)
  }

  /** The relation and cached layout of `points` when it is a bare scan of a
    * parquet relation (its analyzed plan is the relation itself, data
    * columns then partition columns) whose `lonCol` and `latCol` are
    * doubles. */
  private def stored(points: DataFrame, lonCol: String, latCol: String,
                     geohashCol: String): Option[(LogicalRelation, Layout)] =
    points.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            l.output.map(_.name) == r.schema.fieldNames.toSeq &&
            r.dataSchema.length + r.partitionSchema.length == r.schema.length &&
            Seq(lonCol, latCol).forall(c =>
              r.schema.fields.exists(f => f.name == c && f.dataType == DoubleType)) =>
          val parts = r.location.listFiles(Nil, Nil)
            .flatMap(p => p.files.map(f => (p.values, f.fileStatus)))
          val key: Key = (r.sparkSession, r.schema, r.options, lonCol, latCol, geohashCol,
            parts.map { case (_, f) => (f.getPath.toString, f.getLen, f.getModificationTime) })
          Some(l -> cache.synchronized(Option(cache.get(key))).getOrElse {
            val layout = load(r, parts, lonCol, latCol, geohashCol)
            cache.synchronized(cache.put(key, layout))
            layout
          })
        case _ => None
      }
      case _ => None
    }

  /** Reads every footer of `files` once, and builds the row reader. */
  private def load(r: HadoopFsRelation, files: Seq[(InternalRow, FileStatus)],
                   lonCol: String, latCol: String, geohashCol: String): Layout = {
    val conf = r.sparkSession.sessionState.newHadoopConfWithOptions(r.options)
    val hasGeohash = r.dataSchema.fields.exists(f => f.name == geohashCol && f.dataType == StringType)
    val groups = files.flatMap { case (values, status) =>
      val blocks = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.toIndexedSeq
      // a split selects the row groups whose midpoint it holds, so the span
      // from one group's first byte to the next group's selects exactly one
      val ends = blocks.drop(1).map(_.getStartingPos) :+ status.getLen
      blocks.zip(ends).map { case (b, end) =>
        val (x0, x1) = range(b, lonCol)
        val (y0, y1) = range(b, latCol)
        Group(PartitionedFile(values, SparkPath.fromPath(status.getPath), b.getStartingPos,
          end - b.getStartingPos, Array.empty[String], status.getModificationTime,
          status.getLen), b.getRowCount, x0, x1, y0, y1,
          if (hasGeohash) bytesRange(b, geohashCol) else None)
      }
    }
    val read = r.fileFormat.buildReaderWithPartitionValues(r.sparkSession, r.dataSchema,
      r.partitionSchema, r.dataSchema, Nil,
      r.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    Layout(groups.toIndexedSeq, read, r.schema,
      r.schema.fieldIndex(lonCol), r.schema.fieldIndex(latCol))
  }

  private def statistics(b: BlockMetaData, column: String) =
    b.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics)

  /** The (min, max) statistics of `column` in one row group; NaN when the
    * footer has none (no statistics, no non-null value, or NaN bounds). */
  private def range(b: BlockMetaData, column: String): (Double, Double) =
    statistics(b, column) match {
      case Some(s: DoubleStatistics) if s.hasNonNullValue => (s.getMin, s.getMax)
      case _ => (Double.NaN, Double.NaN)
    }

  /** The (min, max) bytes of the binary `column` in one row group; None
    * when the footer has no statistics or no non-null value. */
  private def bytesRange(b: BlockMetaData, column: String): Option[(Array[Byte], Array[Byte])] =
    statistics(b, column) match {
      case Some(s: BinaryStatistics) if s.hasNonNullValue =>
        Some((s.genericGetMin.getBytes, s.genericGetMax.getBytes))
      case _ => None
    }
}
