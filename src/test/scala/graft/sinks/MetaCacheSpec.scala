package graft.sinks

import org.scalatest.funsuite.AnyFunSuite

/** [[MetaCache]]'s contract: LRU eviction at a fixed capacity, exact
  * traffic counts, failed or empty loads never cached, hits never load;
  * and the ratchet that keeps it the only memo structure in `src/main`.
  */
class MetaCacheSpec extends AnyFunSuite {

  test("evicts the least recently used key and never grows past capacity") {
    val c = new MetaCache[Int, String](3)
    (1 to 3).foreach(k => c(k)(s"v$k"))
    c(1)(fail("1 is cached")) // touch 1: 2 is now the eldest
    c(4)("v4")
    assert(c.size === 3)
    assert(c.evictions === 1L)
    var reloaded = false
    c(2) { reloaded = true; "v2" } // 2 was evicted: loads again
    assert(reloaded)
    assert(c.evictions === 2L) // 2 went back in and pushed out 3
    assert(c(1)(fail("1 kept")) === "v1")
    assert(c(4)(fail("4 kept")) === "v4")
    (10 until 16).foreach { k => c(k)(s"v$k"); assert(c.size <= 3) }
    assert(c.size === 3)
  }

  test("lookups, misses and evictions are counted exactly") {
    val c = new MetaCache[String, Int](2)
    c("a")(1); c("b")(2); c("a")(0); c("c")(3); c("a")(0); c("b")(2)
    // a,b miss; a hits; c misses and evicts b; a hits; b misses, evicts c
    assert((c.lookups, c.misses, c.evictions, c.size) === ((6L, 4L, 2L, 2)))
  }

  test("a throwing load and a None load are not cached") {
    val c = new MetaCache[String, String](4)
    var loads = 0
    def boom(): String = { loads += 1; throw new IllegalStateException("x") }
    intercept[IllegalStateException](c("k")(boom()))
    intercept[IllegalStateException](c("k")(boom()))
    assert(loads === 2)
    assert(c.get("n") { loads += 1; None } === None)
    assert(c.get("n") { loads += 1; None } === None)
    assert(loads === 4)
    assert(c.size === 0)
    assert(c.get("n") { loads += 1; Some("v") } === Some("v"))
    assert(c.size === 1 && c.misses === 5L)
  }

  test("a hit does not run the loader") {
    val c = new MetaCache[String, Long](2)
    var loads = 0
    def load(): Long = { loads += 1; 42L }
    assert(c("k")(load()) === 42L)
    assert(c("k")(load()) === 42L)
    assert(c.get("k")(fail("hit must not load")) === Some(42L))
    assert(loads === 1)
    assert((c.lookups, c.misses) === ((3L, 1L)))
  }

  test("MetaCache is the only memo structure in src/main") {
    import scala.jdk.CollectionConverters._
    val memo = Seq("ConcurrentHashMap", "removeEldestEntry", "computeIfAbsent")
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "MetaCache.scala")
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        memo.filter(text.contains).map(m => s"$p: $m")
      }.toSeq
    assert(offenders.isEmpty,
      "hand-rolled memo map outside MetaCache:\n" + offenders.mkString("\n"))
  }
}
