package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Fresh loads of a graft table by directory, for specs that drive the
  * maintenance verbs directly (the verbs take a loaded table).
  */
object TestTables {
  def at(dir: String): GraftTable = {
    val p = new Path(dir)
    GraftTable.open(
      p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), dir, p)
  }

  def at(dir: Path): GraftTable = at(dir.toString)
}
