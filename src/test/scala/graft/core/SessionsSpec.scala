package graft.core

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ChildJvm

/** A stopped session must not stay in the caller's active-session slot:
  * `SparkSession.stop()` leaves it there, so the session (and all it
  * memoized) stays reachable from the calling thread. */
class SessionsSpec extends AnyFunSuite {

  test("Sessions.stop, and an entry point's main, clear the caller's " +
    "active-session slot") {
    // a child JVM: stopping the suite's shared session is not an option
    val out = Files.createTempDirectory("sessions_stop").resolve("csv")
    val (clear, log) = ChildJvm.run(StoppedSlotProbe, out.toString)
    assert(clear, s"a stopped session stayed in the slot:\n${log.takeRight(4000)}")
  }

  test("an entry point's main whose body throws still stops its session") {
    val (stopped, log) = ChildJvm.run(FailingMainProbe)
    assert(stopped, s"a failed main left its session running:\n" +
      log.takeRight(4000))
  }
}

/** Child-JVM body: run `DailySync.main` on a body that fails after the
  * session is up (a transactions sync without a source URL, against an
  * in-memory Derby target), then check that the SparkContext is stopped
  * (no live `SparkEnv`) and no active or default session is left.
  * Exits 0 when the main threw and left nothing running. */
object FailingMainProbe {
  def main(args: Array[String]): Unit = {
    val err = try {
      graft.run.DailySync.main(Array("--entity", "transactions",
        "--run-date", "2025-03-01",
        "--target-url", "jdbc:derby:memory:failing_main;create=true"))
      None
    } catch { case e: Throwable => Some(e) }
    val threwInBody = err.exists(e =>
      String.valueOf(e.getMessage).contains("syncs DB-to-DB"))
    val contextLive = org.apache.spark.SparkEnv.get != null
    val sessionLeft = SparkSession.getActiveSession.isDefined ||
      SparkSession.getDefaultSession.isDefined
    println(s"threw in body: $threwInBody ($err), context live: " +
      s"$contextLive, session left: $sessionLeft")
    System.exit(if (threwInBody && !contextLive && !sessionLeft) 0 else 1)
  }
}

/** Child-JVM body: stop a session with [[Sessions.stop]], then run an
  * entry point (`FakeOrders.main`), and after each read the main
  * thread's raw active-session slot — `getActiveSession` hides a stopped
  * session, the slot does not. Exits 0 when neither left a stopped
  * session there. */
object StoppedSlotProbe {
  def main(args: Array[String]): Unit = {
    val s = Sessions.local("stopped-slot-probe")
    s.range(3).count()
    Sessions.stop(s)
    val afterStop = heldStopped()
    graft.run.FakeOrders.main(Array("--out", args(0), "--num-orders", "10"))
    val afterMain = heldStopped()
    println(s"stopped session in the slot: after Sessions.stop $afterStop, " +
      s"after FakeOrders.main $afterMain")
    System.exit(if (afterStop || afterMain) 1 else 0)
  }

  /** Whether the calling thread's inheritable slot holds a stopped
    * session. */
  private def heldStopped(): Boolean = {
    val companion = Class.forName("org.apache.spark.sql.SparkSessionCompanion$")
    val slot = companion
      .getMethod("org$apache$spark$sql$SparkSessionCompanion$$activeThreadSession")
      .invoke(companion.getField("MODULE$").get(null))
      .asInstanceOf[InheritableThreadLocal[SparkSession]]
    Option(slot.get).exists(_.sparkContext.isStopped)
  }
}
