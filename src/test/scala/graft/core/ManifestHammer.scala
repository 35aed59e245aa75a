package graft.core

import org.apache.hadoop.conf.Configuration

/** Cross-PROCESS manifest committer, spawned as a real second JVM by
  * ManifestSpec: commits `n` one-file deltas tagged `tag` against
  * `rootDir` with an aggressive checkpoint threshold, so concurrent
  * processes race for seqs while checkpoints land. Prints `seq N` as each
  * commit returns and DONE on success; any exception exits nonzero and
  * fails the spawning spec.
  */
object ManifestHammer {
  def main(args: Array[String]): Unit = {
    val Array(rootDir, tag, n) = args
    val m = new Manifest(new Configuration(), rootDir, logCompactEvery = 16)
    (0 until n.toInt).foreach { i =>
      val st = m.commit(st => ManifestDelta(
        nextVersion = Some(st.nextVersion + 1),
        addFiles = Vector(FileMeta(s"data/h-$tag-$i", 0, "00", "ff", 1L, st.nextVersion))))
      println(s"seq ${st.commitSeq}")
    }
    println("DONE")
  }
}
