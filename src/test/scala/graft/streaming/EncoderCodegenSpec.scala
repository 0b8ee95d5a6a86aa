package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Regression guard for the round-11 finding that `private` state case
  * classes defeat Janino: the generated `UnsafeProjection` subclass
  * lives in a synthetic package and cannot link against a
  * Scala-`private` nested class, so Spark silently falls back to
  * interpreted projection ("Expr codegen error" warnings) and every
  * state read/write pays per-row interpretation — the per-core tax a
  * 100x cluster multiplies.
  *
  * The guard flips `spark.sql.codegen.factoryMode` to CODEGEN_ONLY,
  * under which a codegen failure THROWS instead of falling back, then
  * (a) compiles serializer + deserializer projections for every state
  * record used by the stateful operators, and (b) runs a real funnel
  * micro-batch end to end. Any future re-privatisation (or a new state
  * record Janino cannot compile) turns the silent warning into a red
  * test.
  */
class EncoderCodegenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withCodegenOnly[A](body: => A): A = {
    SparkSession.setActiveSession(spark)
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Compile both directions of the encoder under CODEGEN_ONLY; a
    * Janino link failure surfaces as an exception here rather than an
    * interpreter-mode fallback.
    */
  private def assertCodegens[T](label: String, enc: Encoder[T]): Unit = {
    val expr = ExpressionEncoder(enc.asInstanceOf[AgnosticEncoder[T]])
    try {
      expr.createSerializer()
      expr.resolveAndBind().createDeserializer()
    } catch {
      case e: Exception =>
        fail(s"$label state encoder fell out of whole-codegen: ${e.getMessage}")
    }
  }

  test("every stateful-operator state record compiles under CODEGEN_ONLY") {
    withCodegenOnly {
      assertCodegens("StreamingFunnel.Ev",
        Encoders.product[StreamingFunnel.Ev])
      assertCodegens("StreamingFunnel.Prog",
        Encoders.product[StreamingFunnel.Prog])
      assertCodegens("StreamingProfile.St",
        Encoders.product[StreamingProfile.St])
      assertCodegens("StreamingCusum.St",
        Encoders.product[StreamingCusum.St])
      assertCodegens("StreamingGapFill.Last",
        Encoders.product[StreamingGapFill.Last])
      assertCodegens("StreamingMinhashDedup.Resident",
        Encoders.product[StreamingMinhashDedup.Resident])
      assertCodegens("StreamingCdcView.ViewState",
        Encoders.product[StreamingCdcView.ViewState])
      assertCodegens("StreamingHeldAlert.Run",
        Encoders.product[StreamingHeldAlert.Run])
      assertCodegens("StreamingBloomDedup.RotMeta",
        Encoders.product[StreamingBloomDedup.RotMeta])
      assertCodegens("StreamingSemanticDedup.VecEntry",
        Encoders.product[StreamingSemanticDedup.VecEntry])
      assertCodegens("StreamingChunkDedup.ChunkOwner",
        Encoders.product[StreamingChunkDedup.ChunkOwner])
      assertCodegens("StreamingRetry.Waiting",
        Encoders.product[StreamingRetry.Waiting])
      assertCodegens("StreamingAffinity.BasketState",
        Encoders.product[StreamingAffinity.BasketState])
      assertCodegens("StreamingDedup.SimEntry",
        Encoders.product[StreamingDedup.SimEntry])
      assertCodegens("StreamingHeavyHitters.BucketCounters",
        Encoders.product[StreamingHeavyHitters.BucketCounters])
    }
  }

  test("a funnel micro-batch survives CODEGEN_ONLY end to end") {
    import StreamingFunnel.{Event, Stage}
    import spark.implicits._
    withCodegenOnly {
      val stages = Seq(
        Stage("view", "view", 0L),
        Stage("click", "click", 3600L * 1000))
      val source = MemoryStream[Event](spark)
      val out = StreamingFunnel.track(source.toDS(), stages, "0 seconds")
      val name = s"codegen_guard_${System.nanoTime()}"
      val q = out.writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        source.addData(
          Event(1L, "view", Timestamp.valueOf("2024-03-05 10:00:00")),
          Event(1L, "click", Timestamp.valueOf("2024-03-05 10:30:00")),
          Event(9L, "view", Timestamp.valueOf("2024-03-07 00:00:00")))
        q.processAllAvailable()
        source.addData()
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table(name).count() >= 2L,
        "funnel emitted under CODEGEN_ONLY")
    }
  }
}
