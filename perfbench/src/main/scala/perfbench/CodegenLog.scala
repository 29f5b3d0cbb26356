package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Sums the compile times Spark's code generator logs ("Code generated
  * in N ms") without printing them. The compile count comes from
  * `CodegenMetrics`; its histogram keeps a decaying sample, not a sum. */
final class CodegenLog private () extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  @volatile private var sumMs = 0.0
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case Pattern(ms) => synchronized { sumMs += ms.toDouble }
    case _ =>
  }

  def totalMs: Double = sumMs
}

object CodegenLog {
  private val Source = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): CodegenLog = {
    val app = new CodegenLog
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = new LoggerConfig(Source, Level.INFO, false)
    cfg.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(Source, cfg)
    ctx.updateLoggers()
    app
  }
}
