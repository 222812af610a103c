package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Row counts read DRIVER-SIDE from parquet footers (row-group
  * counts): the number a count job over the file returns, without
  * launching one. */
object ParquetFooters {
  def rowCount(file: Path, conf: Configuration): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getRecordCount finally r.close()
  }
}
