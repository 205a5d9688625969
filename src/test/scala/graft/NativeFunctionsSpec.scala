package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NativeFunctions, Udfs}

/** Pins the one-table registration of the native functions: every table
  * name resolves in both kinds of session, and neither the session
  * factory, a repeated `registerAll`, nor the operators ever replace a
  * registered function (each replacement logs a WARN line).
  */
class NativeFunctionsSpec extends AnyFunSuite {
  import TestSpark._

  private val Replaced = "replaced a previously registered function"

  /** Log lines emitted while `body` runs, from any logger. */
  private def logLines(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally {
      root.removeAppender(appender)
      appender.stop()
    }
    lines.asScala.toSeq
  }

  private def resolves(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  test("registration never replaces a function, and every table name " +
      "resolves in a Graft.session and in a bare session after registerAll") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the capture sees WARNs at all (so an empty result below means
      // "no replacement", not "nothing captured")
      val probe = logLines(LogManager.getLogger("graft.capture").warn("probe"))
      assert(probe.contains("probe"))

      val bare = shared.newSession()
      val names = NativeFunctions.table.map(_.name)
      assert(!names.exists(resolves(bare, _)), "the bare session starts bare")
      val lines = logLines {
        val s = Graft.session(master = "local[2]", shufflePartitions = 2)
        assert(names.forall(resolves(s, _)),
          s"not injected: ${names.filterNot(resolves(s, _))}")
        Udfs.registerAll(bare)
        Udfs.registerAll(bare)
        assert(names.forall(resolves(bare, _)),
          s"not registered: ${names.filterNot(resolves(bare, _))}")
        import s.implicits._
        val sh = Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(2L, 3L))).toDF("id", "sh")
        assert(graft.ops.Dedup.minhashSignatures(sh, "id", 16).count() == 2L)
        val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01)))
          .toDF("id", "v")
        assert(graft.ops.Similarity.cosinePairsBlocked(vecs, "id", "v", 0.9,
          bands = 4, bitsPerBand = 2).count() == 1L)
      }
      val replaced = lines.filter(_.contains(Replaced))
      assert(replaced.isEmpty, replaced.mkString("\n"))
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
