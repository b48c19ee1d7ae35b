package streamline.util

/** Scratch paths for queries that demonstrate durable write + re-read.
  * Always suffixed with the (sanitized) source dir so two harness runs
  * at different scale factors on one machine never clobber each
  * other's files (same convention as the bucketed-join scratch).
  *
  * Rooted at the fast ephemeral root ([[Knobs.fastTmp]] — tmpfs when
  * available, `graft.fastTmp` to override, plain java.io.tmpdir
  * otherwise): the harness host intermittently throttles block-device
  * writes to ~40 MB/s, and the explicit per-witness scratch roots
  * (sink rewrites, staged sources, streaming checkpoints passed as
  * `checkpointLocation`) were the one I/O class still riding it after
  * Bench/Prof moved `spark.local.dir` and the session checkpoint
  * default to tmpfs — observed as the throttled-window 3–6× readings
  * on exactly the state-heavy witnesses (BENCH_r20:
  * q_stream_state_rewrite 15.4 s vs a 3.9 s quiet min). Same
  * harness-vs-cluster posture as Knobs.fastTmp: a deployment stages
  * scratch/checkpoints on reliable shared storage by pointing
  * `graft.fastTmp` (or leaving tmpfs absent), nothing here overrides
  * that choice. */
object Scratch {
  /** Scratch root; resolved once per JVM. On first use, sweeps stale
    * scratch left under the LEGACY root (java.io.tmpdir) by builds
    * that predate the fastTmp rooting — matched by the exact
    * `graft_<name>_<mangledAbsoluteSrcDir>` shape (the mangled
    * absolute path always begins with `_`, so real scratch names
    * contain `__`; test tempdirs like `graft_scale_ev_123` do not),
    * never a bare `graft_` prefix sweep (the ADVICE r12 discipline). */
  lazy val root: String = {
    val r = Knobs.fastTmp
    val legacy = sys.props("java.io.tmpdir")
    if (new java.io.File(r).getCanonicalFile !=
        new java.io.File(legacy).getCanonicalFile) {
      Option(new java.io.File(legacy).listFiles()).foreach(_.foreach { f =>
        // names like graft_retract_hist__root_testdata_sf0.1: the tag
        // may itself contain single underscores, the mangled absolute
        // path supplies the double one. graft_bucketed is the one
        // fixed-name staging root (Joins.bucketedTables).
        if ((f.getName.startsWith("graft_") && f.getName.contains("__")) ||
            f.getName == "graft_bucketed")
          streamline.stream.Streams.deleteRec(f)
      })
    }
    r
  }

  def dir(name: String, srcDir: String): String =
    s"$root/graft_${name}_" +
      srcDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** [[dir]], wiped: the root of a witness that rebuilds its staged
    * input, checkpoints and outputs on every execution. */
  def fresh(name: String, srcDir: String): String = {
    val d = dir(name, srcDir)
    streamline.stream.Streams.deleteRec(new java.io.File(d))
    d
  }
}
