package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own SparkSession, built from `session.properties` and
  * nothing else: no `spark.*` system property or environment variable
  * reaches it, so both sides of a comparison run the same session. */
object Session {
  /** `spark.*` keys of the properties file, with `${cores}` resolved. */
  def sparkConf(file: String, cores: Int): Seq[(String, String)] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(file)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.stringPropertyNames().asScala.toSeq.sorted
      .filter(_.startsWith("spark."))
      .map(k => k -> p.getProperty(k).trim.replace("${cores}", cores.toString))
  }

  def build(file: String, cores: Int, workDir: String): SparkSession = {
    // a spark.* JVM system property would override the file silently
    sys.props.keys.filter(_.startsWith("spark.")).foreach(sys.props.remove)
    val b = SparkSession.builder().appName("perfbench")
    sparkConf(file, cores).foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
