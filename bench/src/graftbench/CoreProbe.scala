package graftbench

import java.util.concurrent.atomic.AtomicInteger

import graft.core.{Hashes, LinkExtract, Robots, SyntheticWeb, TextExtract, UrlCanon}

/** Single-thread cost of each fetch/parse kernel function over a sample of
  * the workload's own URLs, plus the raw multi-thread kernel rate (the same
  * loop as `graft.tools.CpuScale`, without Spark). */
object CoreProbe {

  def urls(seed: Long, n: Int): Array[String] =
    Array.tabulate(n)(i => SyntheticWeb.urlFor(Hashes.mix(seed, i.toLong)))

  /** Pages per second of fetch + text + links on `threads` raw threads. */
  def kernelRate(sample: Array[String], threads: Int): Double = {
    val idx = new AtomicInteger(0)
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => {
      var i = idx.getAndIncrement()
      while (i < sample.length) {
        val f = SyntheticWeb.fetch(sample(i))
        if (f.status == 200) {
          sink.addAndGet(TextExtract.extract(f.html).length +
            LinkExtract.extract(f.html, sample(i)).size)
        }
        i = idx.getAndIncrement()
      }
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    sample.length / ((System.nanoTime() - t0) / 1e9)
  }

  /** Mean nanoseconds per call of `f` over `xs`, repeated until `minNs`. */
  private def perCall[A](xs: Array[A], minNs: Long)(f: A => Any): Double = {
    var sink = 0
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minNs) {
      var i = 0
      while (i < xs.length) { sink += f(xs(i)).hashCode; i += 1 }
      calls += xs.length
    }
    val ns = (System.nanoTime() - t0).toDouble / calls
    if (sink == 42) print("") // keeps the results alive
    ns
  }

  /** The `core.*` per-layer metrics. */
  def metrics(tracer: Tracer, seed: Long): Map[String, Double] = {
    val sample = urls(seed, 400)
    val fetched = sample.map(u => u -> SyntheticWeb.fetch(u)).filter(_._2.status == 200)
    val htmls = fetched.map(_._2.html)
    val pages = fetched.map { case (u, f) => (u, f.html) }
    val links = pages.take(100).flatMap { case (u, h) => LinkExtract.extract(h, u) }
    val texts = htmls.map(TextExtract.extract)
    val robotsBodies = sample.map(UrlCanon.hostOf).distinct.map(SyntheticWeb.robotsBody)
    val ms = 300L * 1000 * 1000
    def timed(name: String)(body: => Double): Double = tracer.span(s"core.$name")(body)
    // warm every function before any timing
    perCall(sample, ms)(u => SyntheticWeb.fetch(u).status)
    perCall(pages, ms) { case (u, h) => TextExtract.extract(h).length + LinkExtract.extract(h, u).size }

    val textNs = timed("TextExtract.extract")(perCall(htmls, ms)(TextExtract.extract))
    val bytesPerPage = htmls.map(_.length.toLong).sum.toDouble / htmls.length
    val rate1 = timed("kernel_1t")(kernelRate(urls(seed ^ 0x5eed, 1500), 1))
    val rate4 = timed("kernel_4t")(kernelRate(urls(seed ^ 0x5eed, 6000), 4))
    Map(
      "core.SyntheticWeb.fetch_us" ->
        timed("SyntheticWeb.fetch")(perCall(sample, ms)(u => SyntheticWeb.fetch(u).status)) / 1e3,
      "core.TextExtract.extract_us" -> textNs / 1e3,
      "core.TextExtract.mb_per_s" -> bytesPerPage / textNs * 1e9 / 1048576.0,
      "core.LinkExtract.extract_us" ->
        timed("LinkExtract.extract")(perCall(pages, ms) { case (u, h) => LinkExtract.extract(h, u) }) / 1e3,
      "core.UrlCanon.canonical_us" ->
        timed("UrlCanon.canonical")(perCall(links, ms)(UrlCanon.canonical)) / 1e3,
      "core.Hashes.murmur128_ns" -> timed("Hashes.murmur128")(perCall(sample, ms)(Hashes.murmur128)),
      "core.Hashes.xxh64_ns" -> timed("Hashes.xxh64")(perCall(sample, ms)(u => Hashes.xxh64(u))),
      "core.Hashes.sha256Hex_us" -> timed("Hashes.sha256Hex")(perCall(texts, ms)(Hashes.sha256Hex)) / 1e3,
      "core.Robots.rules_us" -> timed("Robots.parse")(perCall(robotsBodies, ms)(b => Robots.parse(b))) / 1e3,
      "core.kernel_pages_per_s_4t" -> rate4,
      "core.kernel_thread_eff" -> rate4 / rate1 / 4)
  }
}
