package graft.tools

import graft.store.Manifest

/** Second-driver half of the CROSS-PROCESS commit race test
  * (ManifestSpec "cross-process commit atomicity"): a separate JVM
  * hammering synthetic appends at a shared table root while the test
  * JVM does the same. Each commit tags its entries `<tag>_<i>`; the
  * test asserts the final snapshot contains EVERY entry from BOTH
  * writers — on a raw local filesystem that only holds if the
  * lock-file arbiter ([[graft.store.LockFileArbiter]]) actually
  * serializes the exists-check + rename pair across processes
  * (POSIX rename overwrites, so an unarbitrated race loses manifests
  * wholesale, not occasionally).
  *
  * Usage: runMain graft.tools.CommitRace <root> <tag> <nCommits> [mode]
  *
  * `mode` (optional) selects the arbitration the child runs under:
  *  - `lock` (default): the real lock-file arbiter.
  *  - `nolock`: NO cross-process lock ([[graft.store.RenameArbiter]])
  *    — losslessness then rests ENTIRELY on the hard-link commit
  *    point ([[Manifest]] commitRename), the fencing-at-rename-time
  *    proof (ManifestSpec "fencing" test).
  *  - `stall:<ms>`: acquire the lock (500 ms stale window), then STALL
  *    inside the critical section — the deliberately SLOW holder. Its
  *    heartbeat keeps the lock alive, so the parent must WAIT through
  *    the stall (slow ≠ dead) without either side losing a commit or
  *    deleting the other's live lock.
  */
object CommitRace {
  def main(args: Array[String]): Unit = {
    val Array(root, tag, n) = args.take(3)
    val mode = args.lift(3).getOrElse("lock")
    mode match {
      case "nolock" =>
        Manifest.arbiterFor = _ => graft.store.RenameArbiter
      case s if s.startsWith("stall:") =>
        val ms = s.stripPrefix("stall:").toLong
        val base = new graft.store.LockFileArbiter(staleMs = 500L)
        val stalled = new java.util.concurrent.atomic.AtomicBoolean(false)
        Manifest.arbiterFor = _ => new graft.store.CommitArbiter {
          def withCommitLock[T](r: String)(body: => T): T =
            base.withCommitLock(r) {
              // stall ONCE, on the first commit, holding the lock well
              // past its stale window
              if (stalled.compareAndSet(false, true)) Thread.sleep(ms)
              body
            }
        }
      case _ => ()
    }
    val spark = graft.GraftSession.builder(2)
      .appName(s"commit-race-$tag")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      (0 until n.toInt).foreach { i =>
        Manifest.appendSynthetic(spark, root, Seq(s"${tag}_$i"))
      }
      // machine-parsable completion marker for the spawning test
      println(s"[commitrace] $tag done ${n.toInt}")
    } finally spark.stop()
  }
}
