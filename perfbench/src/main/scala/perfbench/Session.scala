package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.URLClassLoader

/** The benchmark's SparkSession: the session confs of `graft.Bench`,
  * verbatim, on `local[nproc]` with shuffle partitions equal to the core
  * count. The warehouse dir comes from the `perfbench.warehouse` system
  * property so every run starts from an empty one.
  */
object Session {
  val Cores: Int = Runtime.getRuntime.availableProcessors

  /** The entry every set-up builds, plans and runs. Its generated code and
    * task closures reference only Spark's classes, so it runs the same
    * through a [[FreshGraft]] loader as through the application's. */
  val WarmUpEntry = "q1_agg"

  def build(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
    sys.props.get("perfbench.warehouse").foreach(w => b.config("spark.sql.warehouse.dir", w))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One set-up: build the session, then graft's own start-up through
    * `loader`: load `graft.SparkEntry` (graft's class and object
    * initialisation, unless `loader` has loaded graft already), install
    * `GraftExtensions`, and build, plan and run [[WarmUpEntry]]. */
  def setUp(loader: ClassLoader, dataDir: String): SparkSession = {
    val spark = build()
    def module(name: String): AnyRef = loader.loadClass(name + "$").getField("MODULE$").get(null)
    val ext = module("graft.GraftExtensions")
    ext.getClass.getMethod("install", classOf[SparkSession]).invoke(ext, spark)
    val entries = module("graft.SparkEntry")
    val queries = entries.getClass.getMethod("queries").invoke(entries)
      .asInstanceOf[Map[String, (SparkSession, String) => DataFrame]]
    queries(WarmUpEntry)(spark, dataDir).collect()
    spark
  }

  /** Defines graft's classes afresh from graft's own class directory and
    * delegates every other class to the application loader, so a set-up
    * through it pays graft's class loading and object initialisation
    * again in a JVM where Spark is already loaded. */
  final class FreshGraft extends URLClassLoader(
      Array(classOf[graft.GraftExtensions].getProtectionDomain.getCodeSource.getLocation),
      classOf[FreshGraft].getClassLoader) {
    override def loadClass(name: String, resolve: Boolean): Class[_] =
      if (!name.startsWith("graft.")) super.loadClass(name, resolve)
      else getClassLoadingLock(name).synchronized {
        val c = Option(findLoadedClass(name)).getOrElse(findClass(name))
        if (resolve) resolveClass(c)
        c
      }
  }
}
