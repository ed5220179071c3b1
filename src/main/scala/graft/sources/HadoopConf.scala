package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The JVM's one LOADED default Hadoop `Configuration`. A fresh
  * `new Configuration()` re-parses `core-default.xml` and scans the
  * whole classpath for `core-site.xml` on its first read — on a footer
  * open that load, not the footer, is most of the cost, and the marker
  * flusher and leader open one footer per file. Every driver-side
  * footer/FileSystem open shares this one; it carries the defaults
  * plus `core-site.xml` and no session settings, exactly what a fresh
  * conf carried. READ-ONLY: a caller that sets keys works on a copy,
  * `new Configuration(HadoopConf.loaded)`, which clones the loaded
  * properties without reloading them. */
private[sources] object HadoopConf {

  lazy val loaded: Configuration = {
    val c = new Configuration()
    c.size() // load the resources now, once, under the lazy val's lock
    c
  }

  /** Open a parquet file's footer on the loaded conf. */
  def openParquet(p: org.apache.hadoop.fs.Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, loaded))
}
