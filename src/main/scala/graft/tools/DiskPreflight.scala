package graft.tools

/** Disk-headroom preflight for Bench, `Entry` and perfbench (r14 verdict
  * task 4). Two measured failure modes from the round-14 panels:
  *
  *  1. a KILLED Spark JVM leaves its `/tmp/blockmgr-*` / `spark-*`
  *     shuffle dirs behind (31 GB found after the t14 sf1000sel kill)
  *     — the next panel starts with that much less disk and dies
  *     ENOSPC mid-rep;
  *  2. one rep's tens-of-GB shuffle files are deleted by the
  *     ContextCleaner WHILE the next rep is timed — d3@sf1000sel reps
  *     showed 2× spread (47 vs 97 s) from deletion I/O overlapping
  *     timed work.
  *
  * The preflight (a) sweeps stale shuffle debris BEFORE the session
  * exists, but only when no OTHER live java process could own it
  * (a parent Bench JVM's blockmgr dirs are live while its fresh
  * `Entry` children run — those children must never sweep; standalone
  * decade runs on the protocol's idle box may); (b) compares free disk
  * against the operator's projected shuffle (rows × observed bytes
  * from the previous decade, passed as SPARK_GRAFT_EXPECT_SHUFFLE_GB)
  * and refuses to start a run that arithmetic says will ENOSPC;
  * (c) exposes [[freeGb]] so per-rep disk levels land in Entry's PASS
  * lines — a rep that ran against a draining disk is then a
  * recorded fact, not a mystery spread. */
object DiskPreflight {
  private def tmpDir = new java.io.File(
    sys.props.getOrElse("java.io.tmpdir", "/tmp"))

  def freeGb: Double = tmpDir.getUsableSpace / 1e9

  /** True if a java process other than this JVM is alive — then
    * shuffle debris in tmp may be live and must not be swept. A java
    * ANCESTOR counts: a fresh child of a live Bench (or of sbt) must
    * never sweep its parent's blockmgr dirs. `procs` is (pid, command)
    * of every process, injectable for the spec. */
  private[graft] def otherJavaAlive(procs: Iterator[(Long, String)], self: Long): Boolean =
    procs.exists { case (pid, cmd) => pid != self && cmd.endsWith("java") }

  private def allProcesses: Iterator[(Long, String)] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .map(p => (p.pid(), p.info().command().orElse("")))
  }

  private def rmTree(f: java.io.File): Long = {
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    val n = kids.map(rmTree).sum + (if (f.isFile) f.length() else 0L)
    f.delete()
    n
  }

  /** Only dirs at least this stale are sweepable debris: a live JVM's
    * blockmgr/spark-local dirs are written continuously, so anything
    * untouched this long is a dead JVM's leavings. This is the
    * belt-and-braces guard UNDER the liveness probe — the r15 bench
    * crash (NoSuchFileException on its own `blockmgr-…/0e` 35 s after
    * start) was the sweep running AFTER the session existed on a box
    * with no other java alive: ordering bugs and probe races must
    * degrade to "swept nothing young", never to deleting a running
    * session's store. Staleness is judged on [[newestMtime]] (the dir
    * AND its immediate children), not the top dir alone: a live
    * blockmgr-* dir stops gaining direct children once its hashed
    * subdirs exist, so after ~10 min of runtime its own mtime exceeds
    * the floor while its children (where block files actually land,
    * touching the subdir mtime) stay young — judging the top dir alone
    * would re-open exactly the window this floor exists to close
    * (r16 ADVICE). */
  private[graft] val MinDebrisAgeMs: Long = 10L * 60 * 1000

  /** Newest lastModified across `f` and its IMMEDIATE children — the
    * bounded walk that sees a live blockmgr's activity (writes land in
    * hashed subdirs, touching the subdir's mtime) without paying a full
    * recursive stat of thousands of shuffle files. */
  private[graft] def newestMtime(f: java.io.File): Long = {
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    (f.lastModified() +: kids.map(_.lastModified())).max
  }

  /** Sweep `blockmgr-*` / `spark-*` / `temporary-*` debris under tmp.
    * Skipped (with a printed reason) when another java process is
    * alive, unless SPARK_GRAFT_SWEEP_SHUFFLE=1 forces it (the operator
    * asserting the other JVM is not Spark). Dirs younger than
    * [[MinDebrisAgeMs]] are never touched. Returns bytes freed. */
  def sweepShuffleDebris(): Long =
    sweepShuffleDebris(sys.env.get("SPARK_GRAFT_SWEEP_SHUFFLE").contains("1"))

  /** `root` is injectable for the spec ONLY — a forced sweep of the
    * real tmp from inside the test suite would race the live session's
    * own spark-* dirs. */
  private[graft] def sweepShuffleDebris(force: Boolean,
      root: java.io.File = tmpDir): Long = {
    if (!force && otherJavaAlive(allProcesses, ProcessHandle.current().pid())) {
      println("PREFLIGHT sweep=skipped reason=other-java-alive " +
        "(set SPARK_GRAFT_SWEEP_SHUFFLE=1 to force)")
      return 0L
    }
    val now = System.currentTimeMillis()
    val debris = Option(root.listFiles()).getOrElse(Array.empty).filter { f =>
      val n = f.getName
      f.isDirectory &&
        (n.startsWith("blockmgr-") || n.startsWith("spark-") ||
          n.startsWith("temporary-")) &&
        now - newestMtime(f) >= MinDebrisAgeMs
    }
    val freed = debris.map(rmTree).sum
    println(f"PREFLIGHT sweep=done dirs=${debris.length} freedGB=${freed / 1e9}%.2f")
    freed
  }

  /** Gate a run on projected shuffle fitting in free disk. The
    * projection comes from SPARK_GRAFT_EXPECT_SHUFFLE_GB (operator-
    * supplied: previous decade's shuffleWriteGB × the decade factor);
    * absent means no gate, just the free-disk record. Refusal exits 2
    * unless SPARK_GRAFT_PREFLIGHT_FORCE=1. Headroom factor 1.2: sort
    * shuffles peak near their steady size; the margin absorbs sink
    * output + checkpoint dirs. */
  def gate(): Unit = {
    val free = freeGb
    sys.env.get("SPARK_GRAFT_EXPECT_SHUFFLE_GB").map(_.toDouble) match {
      case Some(expect) =>
        val need = expect * 1.2
        val verdict = if (free >= need) "ok" else "INSUFFICIENT"
        println(f"PREFLIGHT freeGB=$free%.2f expectShuffleGB=$expect%.2f " +
          f"needGB=$need%.2f verdict=$verdict")
        if (free < need && !sys.env.get("SPARK_GRAFT_PREFLIGHT_FORCE").contains("1")) {
          System.err.println(
            f"PREFLIGHT refusing to start: projected shuffle $expect%.1f GB " +
              f"(×1.2 headroom = $need%.1f GB) exceeds free disk $free%.1f GB — " +
              "the run would ENOSPC mid-rep. SPARK_GRAFT_PREFLIGHT_FORCE=1 overrides.")
          sys.exit(2)
        }
      case None =>
        println(f"PREFLIGHT freeGB=$free%.2f (no shuffle projection supplied)")
    }
  }

  /** The prelude of every measuring main: sweep, then gate. */
  def run(): Unit = { sweepShuffleDebris(); gate() }
}
