package graft

/** Scratch roots for local runs: `/dev/shm/<name>` when tmpfs is writable,
  * else `<java.io.tmpdir>/<name>`; created if missing. A single shared
  * system disk is a local-only artifact — a real cluster gives each
  * executor its own local disk — so tmpfs stands in for per-executor local
  * storage (bench corpora, streaming checkpoints, the x26 review queue).
  */
object TempRoot {
  def apply(name: String): java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    val d = new java.io.File(base, name)
    d.mkdirs()
    d.toPath
  }
}
