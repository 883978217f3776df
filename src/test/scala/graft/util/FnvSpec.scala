package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Golden vectors for the shared 64-bit FNV-1a id hash. */
class FnvSpec extends AnyFunSuite {

  test("hash64 golden vectors (published FNV-1a test values)") {
    // fnv1a64("") = offset basis; "a" and "foobar" are the classic vectors
    assert(Fnv.hash64("") == 0xcbf29ce484222325L)
    assert(Fnv.hash64("a") == 0xaf63dc4c8601ec8cL)
    assert(Fnv.hash64("foobar") == 0x85944171f73967e8L)
  }
}
