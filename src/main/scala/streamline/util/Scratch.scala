package streamline.util

/** Scratch paths for queries that demonstrate durable write + re-read.
  * Always suffixed with the (sanitized) source dir so two harness runs
  * at different scale factors on one machine never clobber each
  * other's files.
  *
  * Rooted at [[Knobs.fastTmp]] (`graft.fastTmp`, else java.io.tmpdir);
  * a deployment stages scratch and checkpoints on reliable shared
  * storage by pointing `graft.fastTmp` there.
  *
  * Key contract: a scratch name must encode every knob that shapes
  * what is written under it (shard, bucket and band counts — e.g.
  * `dedupinc2`, `bucketed_b8`, `knnidx_b4`). A [[staged]] root is
  * reused for as long as its marker exists, so a knob left out of the
  * name silently pins the first run's layout. */
object Scratch {
  /** Scratch root; resolved once per JVM. */
  lazy val root: String = Knobs.fastTmp

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

  /** [[dir]], built once: while `<root>/_DONE` is missing, wipes the
    * root, recreates it, runs `build(root)` and then writes the marker.
    * The marker is the commit point — a build that throws leaves none,
    * and the next call rebuilds from an empty root. Returns the root. */
  def staged(name: String, srcDir: String)(build: String => Unit): String = {
    val d = dir(name, srcDir)
    val marker = new java.io.File(d, "_DONE")
    if (!marker.exists()) {
      streamline.stream.Streams.deleteRec(new java.io.File(d))
      new java.io.File(d).mkdirs()
      build(d)
      marker.createNewFile(): Unit
    }
    d
  }
}
