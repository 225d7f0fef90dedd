package graft.core

import org.scalatest.funsuite.AnyFunSuite

class HashesSpec extends AnyFunSuite {

  test("sha256 hex matches the public test vector") {
    assert(Hashes.sha256Hex("") ===
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(Hashes.sha256Hex("abc") ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(Hashes.sha256Hex("abcdbcdecdefdefgefghfghighijhijkijkljklmklmnlmnomnopnopq") ===
      "248d6a61d20638b8e5c026930c3e6039a33ce45964ff2167f6ecedd419db06c1")
  }

  test("xxh64 and murmur128 are deterministic and spread") {
    val urls = (0 until 1000).map(i => s"http://h$i.example/p/$i")
    val x = urls.map(Hashes.xxh64(_))
    assert(x.distinct.size === 1000)
    assert(x === urls.map(Hashes.xxh64(_)))
    val m = urls.map(Hashes.murmur128)
    assert(m.distinct.size === 1000)
    assert(m.map(_._1).distinct.size === 1000)
  }
}
