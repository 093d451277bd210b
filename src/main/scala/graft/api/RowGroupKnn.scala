package graft.api

import scala.jdk.CollectionConverters._

import graft.geo.Geom
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.column.statistics.DoubleStatistics
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/**
 * Exact k-nearest-neighbour search over a stored parquet table, run on the
 * driver: the Spark analog of the reference's client-side KNN (prefix scans
 * issued from the client, then a merge; KNNQuery.java:42-91), with the
 * lower bounds the layout already stores in place of a fixed neighbourhood.
 *
 * Every row group's footer carries the min/max of `lon` and `lat`, so the
 * planar distance from the origin to that bounding box bounds the distance
 * of every point in the group from below. The search reads row groups in
 * order of that bound, with Spark's own parquet reader, into a k-heap, and
 * stops once the heap holds k rows whose k-th distance is at most the next
 * group's bound: no unread point can then be closer. The answer is exact by
 * construction, at poles and across the antimeridian too, since distance is
 * planar in degrees. Each query plans no Spark job.
 */
private[graft] object RowGroupKnn {

  /** Rows one search may read on the driver before it gives up and the
    * caller falls back to the distributed top-k; it also bounds the rows
    * the heap can hold. */
  val RowBudget: Long = 1L << 20

  /** What one search did: row groups in the layout (0 when `points` is not
    * a stored parquet table), row groups and rows read, and whether the
    * search proved its answer (false: the caller ran the distributed
    * top-k). */
  final case class Record(rowGroups: Int, rowGroupsRead: Int, rowsRead: Long,
                          proved: Boolean)

  /** Layouts kept at once; a serving process queries a few tables. */
  private val CacheEntries = 8

  /** One row group: the byte range of its file that selects it, its row
    * count, and its `lon`/`lat` bounding box (NaN when the footer has no
    * usable statistics). */
  private final case class Group(file: PartitionedFile, rows: Long,
                                 lonMin: Double, lonMax: Double,
                                 latMin: Double, latMax: Double) {
    /** Lower bound on the distance from (lon, lat) to any point of the
      * group: the distance to the nearest point of its box, computed with
      * the operand order of the per-row distance, so that rounding keeps
      * it a lower bound. */
    def bound(lon: Double, lat: Double): Double =
      if (lonMin.isNaN || lonMax.isNaN || latMin.isNaN || latMax.isNaN) 0.0
      else Geom.euclidean(math.min(math.max(lon, lonMin), lonMax),
        math.min(math.max(lat, latMin), latMax), lon, lat)
  }

  /** A table's row groups, and one reader for them whose rows carry the
    * relation's columns in schema order (data columns, then partition
    * values). */
  private final case class Layout(groups: IndexedSeq[Group],
                                  read: PartitionedFile => Iterator[InternalRow],
                                  schema: StructType, lonIdx: Int, latIdx: Int)

  /** Keyed on everything the layout depends on: the session that built the
    * reader, the relation's schema and options, the two columns and the
    * file listing (path, length, modification time), so that a table
    * rewritten at the same path is read afresh. */
  private type Key = (SparkSession, StructType, Map[String, String], String, String,
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
  def search(points: DataFrame, lon: Double, lat: Double, k: Int,
             lonCol: String, latCol: String,
             rowBudget: Long): (Option[DataFrame], Record) = {
    require(k >= 1, s"k must be positive, got k = $k")
    stored(points, lonCol, latCol) match {
      case None => (None, Record(0, 0, 0L, proved = false))
      case Some(layout) =>
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
        var read = 0
        var rows = 0L
        while (read < order.length && !done(order(read)._1) &&
               rows + order(read)._2.rows <= rowBudget) {
          val g = order(read)._2
          val it = layout.read(g.file)
          var n = 0L
          try {
            while (it.hasNext) {
              val r = it.next()
              n += 1
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
          } finally it match {
            case c: java.io.Closeable => c.close()
            case _ =>
          }
          if (n != g.rows) throw new IllegalStateException(
            s"row group at ${g.file.filePath} offset ${g.file.start}: read $n rows, footer says ${g.rows}")
          rows += n
          read += 1
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

  /** The cached layout of `points` when it is a bare scan of a parquet
    * relation (its analyzed plan is the relation itself, data columns then
    * partition columns) whose `lonCol` and `latCol` are doubles. */
  private def stored(points: DataFrame, lonCol: String, latCol: String): Option[Layout] =
    points.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            l.output.map(_.name) == r.schema.fieldNames.toSeq &&
            r.dataSchema.length + r.partitionSchema.length == r.schema.length &&
            Seq(lonCol, latCol).forall(c =>
              r.schema.fields.exists(f => f.name == c && f.dataType == DoubleType)) =>
          val parts = r.location.listFiles(Nil, Nil)
            .flatMap(p => p.files.map(f => (p.values, f.fileStatus)))
          val key: Key = (r.sparkSession, r.schema, r.options, lonCol, latCol,
            parts.map { case (_, f) => (f.getPath.toString, f.getLen, f.getModificationTime) })
          Some(cache.synchronized(Option(cache.get(key))).getOrElse {
            val layout = load(r, parts, lonCol, latCol)
            cache.synchronized(cache.put(key, layout))
            layout
          })
        case _ => None
      }
      case _ => None
    }

  /** Reads every footer of `files` once, and builds the row reader. */
  private def load(r: HadoopFsRelation, files: Seq[(InternalRow, FileStatus)],
                   lonCol: String, latCol: String): Layout = {
    val conf = r.sparkSession.sessionState.newHadoopConfWithOptions(r.options)
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
          status.getLen), b.getRowCount, x0, x1, y0, y1)
      }
    }
    val read = r.fileFormat.buildReaderWithPartitionValues(r.sparkSession, r.dataSchema,
      r.partitionSchema, r.dataSchema, Nil,
      r.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    Layout(groups.toIndexedSeq, read, r.schema,
      r.schema.fieldIndex(lonCol), r.schema.fieldIndex(latCol))
  }

  /** The (min, max) statistics of `column` in one row group; NaN when the
    * footer has none (no statistics, no non-null value, or NaN bounds). */
  private def range(b: BlockMetaData, column: String): (Double, Double) =
    b.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics) match {
      case Some(s: DoubleStatistics) if s.hasNonNullValue => (s.getMin, s.getMax)
      case _ => (Double.NaN, Double.NaN)
    }
}
