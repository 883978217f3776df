package graft.util

/** FNV-1a over UTF-8 bytes — the ONE shared implementation of the engine's
  * 64-bit string-id hash (stable across JVMs, dependency-free, identical on
  * driver and executors). Consumer: [[graft.index.IndexBuild]]'s url hash,
  * behind a loud collision guard. 64-bit ids expect ≈ n²/2^65 collisions
  * (~0.03 at 10^9 keys). */
object Fnv {
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }
}
