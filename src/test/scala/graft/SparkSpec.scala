package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession shared by every suite (sbt runs suites in one JVM;
  * stopping/starting contexts per-suite churns seconds each).
  */
object GraftTestSession {
  lazy val spark: SparkSession = {
    // a static conf: Spark reads `spark.*` system properties at startup
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft_wh_tests_").toString
    graft.core.Session.local(4)
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftTestSession.spark
  def sfDir: String = GraftTestSession.sfDir

  /** (codec, encodings) of every column chunk of parquet file `file`,
    * read from its footer.
    */
  def parquetChunks(file: String): Seq[(String, Set[String])] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map { c =>
      (c.getCodec.name, c.getEncodings.asScala.map(_.name).toSet)
    })
    finally reader.close()
  }
}
