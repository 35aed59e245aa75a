package graft.store

import org.apache.hadoop.conf.Configuration

import ManifestStoreSpec.ToyManifest

/** Cross-PROCESS family writer, spawned as a real second JVM by
  * ManifestStoreSpec: appends `n` roots tagged `tag` to the toy manifest
  * under `dir`, each through [[ManifestStore.commitOrDrop]] against the
  * manifest it just read. Prints `landed <root>` for a commit that
  * returned and `aborted <root>` for one that failed as a concurrent
  * mutation, then DONE; any other exception exits nonzero.
  */
object ManifestStoreHammer {
  def main(args: Array[String]): Unit = {
    val Array(dir, tag, n) = args
    val conf = new Configuration()
    val store = new ManifestStore[ToyManifest]("toy", "vacuumToy")
    (0 until n.toInt).foreach { i =>
      val m = store.read(conf, dir).get
      val root = s"toy-$tag-$i"
      try {
        store.commitOrDrop(conf, dir, m, ToyManifest(m.roots :+ root, m.n + 1), Nil)
        println(s"landed $root")
      } catch {
        case e: IllegalStateException if e.getMessage.contains("concurrent toy mutation") =>
          println(s"aborted $root")
      }
    }
    println("DONE")
  }
}
