package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Pins the build-once semantics of the per-session artifact registry
  * that every memoized relation, corpus index and trained index sits on.
  * Uses the shared test session (never stopped) and sessions derived
  * from it; each test has its own Slot, and invalidateAll runs only on
  * a derived session, so no other suite's entries are touched.
  */
class SessionArtifactsSpec extends SparkSpec {

  final class Box(val n: Int)

  test("repeated lookups run build once and return the same instance") {
    val slot = SessionArtifacts.Slot[Box]("spec.repeat")
    val builds = new AtomicInteger
    val first = slot(spark, "k")(new Box(builds.incrementAndGet()))
    val again = (1 to 5).map(_ => slot(spark, "k")(new Box(builds.incrementAndGet())))
    assert(builds.get == 1)
    assert(again.forall(_ eq first))
    val other = slot(spark, "k2")(new Box(builds.incrementAndGet()))
    assert(builds.get == 2 && !(other eq first), "a new key builds its own value")
  }

  test("8 concurrent callers on one key all get the same instance") {
    val slot = SessionArtifacts.Slot[Box]("spec.concurrent")
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val calls = (1 to 8).map { _ =>
        Future {
          start.await()
          slot(spark, "k") {
            Thread.sleep(50) // hold the build open while the others arrive
            new Box(builds.incrementAndGet())
          }
        }
      }
      start.countDown()
      val got = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a build that throws leaves no value; the next lookup builds again") {
    val slot = SessionArtifacts.Slot[Box]("spec.throws")
    intercept[IllegalStateException](slot(spark, "k")(throw new IllegalStateException))
    assert(slot(spark, "k")(new Box(7)).n == 7)
  }

  test("spark.newSession() gets its own value") {
    val slot = SessionArtifacts.Slot[Box]("spec.sessions")
    val other = spark.newSession()
    val mine = slot(spark, "k")(new Box(1))
    val theirs = slot(other, "k")(new Box(2))
    assert(mine.n == 1 && theirs.n == 2)
    assert(slot(other, "k")(new Box(3)) eq theirs)
  }

  test("invalidateAll(s) clears s only, and the next lookup rebuilds") {
    val slot = SessionArtifacts.Slot[Box]("spec.invalidate")
    val (s, other) = (spark.newSession(), spark.newSession())
    val mine = slot(s, "k")(new Box(1))
    val theirs = slot(other, "k")(new Box(2))
    SessionArtifacts.invalidateAll(s)
    val rebuilt = slot(s, "k")(new Box(3))
    assert(rebuilt.n == 3 && !(rebuilt eq mine))
    assert(slot(other, "k")(new Box(4)) eq theirs, "the other session keeps its entry")
  }

  test("two slots under one kind name never share entries") {
    val a = SessionArtifacts.Slot[Box]("spec.same-name")
    val b = SessionArtifacts.Slot[String]("spec.same-name")
    val box = a(spark, "k")(new Box(1))
    assert(b(spark, "k")("s") == "s")
    assert(a(spark, "k")(new Box(2)) eq box)
  }
}
