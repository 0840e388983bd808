package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** One Parquet row group's row count and coordinate bounds. */
final case class RowGroup(rows: Long, latMin: Double, latMax: Double, lonMin: Double, lonMax: Double) {
  /** Whether a reader pruning on min/max statistics must read this group
    * for a latitude/longitude window. */
  def overlaps(la0: Double, la1: Double, lo0: Double, lo1: Double): Boolean =
    latMax >= la0 && latMin <= la1 && lonMax >= lo0 && lonMin <= lo1
}

final case class Footer(bytes: Long, groups: Seq[RowGroup])

/** Parquet footers of a written table, read from outside the program. */
object Footers {
  def of(dir: String): Seq[Footer] = {
    val conf = new Configuration()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listFiles(root, true)
    val out = Seq.newBuilder[Footer]
    while (files.hasNext) {
      val st = files.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try {
          val groups = r.getFooter.getBlocks.asScala.toSeq.map { b =>
            def bounds(name: String): (Double, Double) =
              b.getColumns.asScala.find(_.getPath.toDotString == name).map { c =>
                val s = c.getStatistics
                (s.genericGetMin.asInstanceOf[java.lang.Double].doubleValue,
                  s.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
              }.getOrElse((Double.NegativeInfinity, Double.PositiveInfinity))
            val (la0, la1) = bounds("latitude")
            val (lo0, lo1) = bounds("longitude")
            RowGroup(b.getRowCount, la0, la1, lo0, lo1)
          }
          out += Footer(st.getLen, groups)
        } finally r.close()
      }
    }
    out.result()
  }
}
