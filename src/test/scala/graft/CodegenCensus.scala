package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Every Janino class Spark compiles while a block runs, attributed to the
  * Spark job description of the thread that compiled it (a planning
  * thread's own, or a task's).
  *
  * Spark compiles a class only on a miss in its codegen cache, and logs
  * the class body at DEBUG just before; an appender on that logger sees
  * each compile on the compiling thread. The count is checked against
  * Spark's own compile counter (`CodegenMetrics`).
  */
object CodegenCensus {
  final case class Compile(description: String, body: String)

  private val CodegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def record[T](spark: SparkSession)(f: => T): (T, Seq[Compile]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Compile]
    val appender = new AbstractAppender("codegen-census", null, null, true,
        Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        // the formatted body opens with its first line number
        if (e.getLevel == Level.DEBUG && msg.trim.startsWith("/* 001 */")) {
          val desc = Option(TaskContext.get())
            .map(_.getLocalProperty("spark.job.description"))
            .getOrElse(sc.getLocalProperty("spark.job.description"))
          seen.add(Compile(Option(desc).getOrElse(""), msg))
        }
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(CodegenLogger, Level.DEBUG, false)
    lc.addAppender(appender, Level.DEBUG, null)
    cfg.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val out = f
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      val all = seen.toArray(Array.empty[Compile]).toSeq
      assert(all.size == compiled,
        s"census saw ${all.size} compiles, CodegenMetrics counted $compiled")
      (out, all)
    } finally {
      cfg.removeLogger(CodegenLogger)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
