package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One shared local SparkSession across all suites (getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  // Overridable for the partition-count robustness sweep: results must be
  // identical at ANY partition count (a dependency on the default 4 is a
  // part-50-class bug — ordering by few-partition luck).
  lazy val spark: SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("GRAFT_TEST_MASTER", "local[4]"))
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("GRAFT_TEST_SHUFFLE", "4"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `body` with SQL confs temporarily overridden, restoring previous
    * values (or unsetting) afterwards. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Spark jobs started while `f` runs, counted by the bench meter. */
  def jobsDuring(f: => Any): Int = {
    val meter = new graft.bench.Harness.Meter(spark)
    try meter.time(f)._2.jobs
    finally spark.sparkContext.removeSparkListener(meter)
  }

  /** The messages `body` logs to the `graft` logger (its `[graft]` lines). */
  def graftLog(body: => Any): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("graft").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.setLevel(Level.WARN)
    logger.addAppender(appender)
    try body finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    lines.asScala.toSeq
  }

  /** Multiset compare helper (Bag semantics, like the reference's
    * okapi-testing Bag.scala). */
  def bag(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  def dfBag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    bag(df.collect().toSeq.map(_.toSeq.map {
      case d: java.lang.Double => BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)
      case other => other
    }))
}
