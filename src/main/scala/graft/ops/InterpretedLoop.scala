package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iterative-loop codegen discipline (round 18).
  *
  * Every per-round plan in a graph/ML fixpoint loop executes exactly
  * ONCE (its lazy-checkpoint mark + the round's convergence probe), and
  * each round's plan differs from the last (fresh LogicalRDD inputs), so
  * whole-stage codegen's janino compilation is paid again every round
  * and amortizes over a single pass of the round's data. An interleaved
  * A/B on the q146 BFS at sf0.1 measured the loop stages at 6.7-9.2 CPU
  * seconds with codegen (31 per-stage compiles across the loop) vs
  * 0.6-4.9 interpreted — per-query wall 4.7 s vs 2.8 s. Interpreted
  * eval costs ~3 µs/row extra, so the break-even is ~100k rows scanned
  * per round stage.
  *
  * [[runIfSmall]] therefore disables whole-stage codegen around a
  * loop's COMPILE-TIME actions only when the loop's scanned relation is
  * small (the [[SizeGate]] decision, ~3M rows) — a 100 TB graph
  * keeps codegen, where one compile per executor amortizes over
  * billions of rows. The final result plan is always assembled OUTSIDE
  * the scope, so the query's own execution compiles normally.
  *
  * The session-conf flip is guarded by a per-session reentrant lock so
  * two overlapping scopes on one session can never interleave their
  * set/restore pairs (the restore would otherwise clobber the other
  * scope's state). A concurrent NON-loop query on the same session
  * still observes the flipped conf for the scope's duration — the
  * documented residual of a session-scoped knob; compiles in this
  * engine are single-threaded per session (same assumption as the KQL
  * compiler's materialize-retirement backstop), and the lock makes a
  * violation serialize instead of corrupt.
  */
object InterpretedLoop {

  /** One lock per live session; weak keys so stopped sessions don't pin. */
  private val locks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.concurrent.locks.ReentrantLock]())
  private def lockFor(s: SparkSession): java.util.concurrent.locks.ReentrantLock =
    locks.synchronized {
      var l = locks.get(s)
      if (l == null) { l = new java.util.concurrent.locks.ReentrantLock(); locks.put(s, l) }
      l
    }

  def runIfSmall[A](session: SparkSession, small: Boolean)(body: => A): A =
    if (!small) body
    else {
      val lock = lockFor(session)
      lock.lock() // reentrant: a nested scope sees prev="false", restores it
      try {
        val key = "spark.sql.codegen.wholeStage"
        val prev = session.conf.getOption(key)
        session.conf.set(key, "false")
        try body
        finally prev match {
          case Some(v) => session.conf.set(key, v)
          case None => session.conf.unset(key)
        }
      } finally lock.unlock()
    }

  def run[A](df: DataFrame)(body: => A): A =
    runIfSmall(df.sparkSession, SizeGate.small(df))(body)
}
