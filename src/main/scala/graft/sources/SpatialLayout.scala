package graft.sources

import graft.functions.st
import graft.geom.Z2
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Z2-clustered parquet layout — the storage half of the spatial
  * pushdown design (SURVEY.md §3/§4).
  *
  * Write side: every row carries `extent` (plain struct → parquet
  * min/max stats per field) and a Z2 cell key; rows are range-partitioned
  * and sorted by the key so each row group covers a tight spatial
  * neighborhood, and a coarse prefix becomes a directory partition.
  *
  * Read side: a query window prunes three times —
  *   1. directory pruning: the driver lists the layout root and only
  *      the covered `z2p=` and spill directories (unmatched directories
  *      are never listed, no listing job runs), and `z2p IN (covering
  *      cells)` stays as PartitionFilters;
  *   2. row-group pruning: SpatialFilterPushdown rewrites
  *      `st_intersects(extent, window)` into field ranges → PushedFilters
  *      against the sorted row-group stats;
  *   3. exact residual: JTS verification on the survivors only.
  *
  * At 100 TB this is the difference between a full scan and touching the
  * few percent of files a window actually overlaps.
  */
object SpatialLayout {

  /** Spill directory key for geometries that span more than one
    * dirLevel cell — always scanned, so no window can lose them.
    */
  val SpillKey = -1L

  /** Write `df` in the Z2-clustered layout. `level` keys row ordering
    * (finer = tighter row groups); `dirLevel` keys directory granularity
    * (4 → up to 256 directories worldwide).
    *
    * A geometry whose envelope fits inside one dirLevel cell gets that
    * cell as its directory key; one that crosses a cell boundary goes to
    * the [[SpillKey]] directory (read on every window — the standard
    * out-of-band bucket, bounded because dirLevel is coarse). Keying the
    * directory on the centroid cell alone would silently drop
    * boundary-crossing geometries whose centroid falls outside the
    * window's covered cells.
    */
  def writeZ2(df: DataFrame, geomCol: String, path: String,
              level: Int = 12, dirLevel: Int = 4): Unit =
    df.withColumn("extent", st.extentFromGeom(col(geomCol)))
      .withColumn("z2", st.z2Cell(col(geomCol), lit(level)))
      .withColumn("__cover", st.z2CellCover(col(geomCol), lit(dirLevel)))
      .withColumn("z2p",
        when(size(col("__cover")) === 1, col("__cover").getItem(0))
          .otherwise(lit(SpillKey)))
      .drop("__cover")
      .repartitionByRange(col("z2"))
      .sortWithinPartitions("z2")
      .write.partitionBy("z2p").mode("overwrite").parquet(path)

  /** Scan a Z2 layout pruned to a query window: covered directories plus
    * the spill directory, extent ranges for row-group pruning, then the
    * exact JTS predicate on the survivors.
    *
    * Building the frame runs no Spark job, so the scan is the window's
    * only one: the driver lists the root and the covered `z2p=`
    * directories that exist, and reads the data schema from one footer.
    * With no covered directory, any one `z2p=` directory stands in and
    * the partition filter prunes it to nothing (an empty, typed frame).
    */
  def readWindow(spark: SparkSession, path: String,
                 xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                 dirLevel: Int = 4, geomCol: String = "geom"): DataFrame = {
    val cells = (Z2.coverEnvelope(xmin, ymin, xmax, ymax, dirLevel) :+ SpillKey).map(Long.box)
    val window = st.makeBBOX(lit(xmin), lit(ymin), lit(xmax), lit(ymax))
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val cellDirs = root.getFileSystem(conf).listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("z2p="))
    require(cellDirs.nonEmpty, s"no z2p= directories under $path")
    val wanted = cells.map(c => s"z2p=$c").toSet
    val covered = cellDirs.filter(d => wanted(d.getName))
    val dirs = if (covered.nonEmpty) covered else cellDirs.take(1)
    val file = new Path(dirs.head, FsUtil.listPartFiles(spark, dirs.head.toString).min)
    val dataSchema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf), SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(dataSchema).option("basePath", path)
      .parquet(dirs.map(_.toString): _*)
      .filter(col("z2p").isin(cells.toIndexedSeq: _*))
      .filter(st.intersects(col("extent"), window)) // pushdown-rewritten ranges
      .filter(st.intersects(col(geomCol), window))  // exact JTS residual
  }
}
