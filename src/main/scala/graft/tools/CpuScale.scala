package graft.tools

import java.util.concurrent.atomic.AtomicLong

import graft.core.{Hashes, LinkExtract, SyntheticWeb, TextExtract}

/** Dev harness: raw thread-scaling of the fetch+parse workload, no Spark.
  * `runMain graft.tools.CpuScale <threads> <nUrls>`; with a third argument
  * `components` it prints instead the single-thread µs per page of each kernel
  * component over the same URL set. */
object CpuScale {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.getOrElse("32").toInt
    val n = args.lift(1).getOrElse("100000").toInt
    val urls = (0 until n).map(i => SyntheticWeb.urlFor(Hashes.mix(5L, i.toLong))).toArray
    if (args.lift(2).contains("components")) components(urls) else scale(threads, urls)
  }

  private def scale(threads: Int, urls: Array[String]): Unit = {
    val n = urls.length
    val idx = new AtomicLong(0)
    val sink = new AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var i = idx.getAndIncrement()
        while (i < n) {
          val u = urls(i.toInt)
          val f = SyntheticWeb.fetch(u)
          if (f.status == 200) {
            val text = TextExtract.extract(f.html)
            val links = LinkExtract.extract(f.html, u)
            sink.addAndGet(text.length + links.size)
          }
          i = idx.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"threads=$threads n=$n sec=$sec%.2f pages_per_sec=${n / sec}%.0f sink=${sink.get()}")
  }

  /** fetch is per URL (404s included); the others are per 200-status page.
    * Holds every page in memory (about 16 KB each): use a few thousand URLs. */
  private def components(urls: Array[String]): Unit = {
    val fetched = urls.map(SyntheticWeb.fetch)
    val ok = urls.indices.filter(i => fetched(i).status == 200).toArray
    val texts = ok.map(i => TextExtract.extract(fetched(i).html))
    val fetchUs = usPer(urls.length)(i => SyntheticWeb.fetch(urls(i)).html.length)
    val textUs = usPer(ok.length)(k => TextExtract.extract(fetched(ok(k)).html).length)
    val linksUs = usPer(ok.length)(k => LinkExtract.extract(fetched(ok(k)).html, urls(ok(k))).size)
    val shaUs = usPer(ok.length)(k => Hashes.sha256Hex(texts(k)).length)
    println(f"components n=${urls.length} pages=${ok.length} fetch_us=$fetchUs%.1f " +
      f"text_us=$textUs%.1f links_us=$linksUs%.1f sha256_us=$shaUs%.1f")
  }

  /** Mean µs per call of `f(0 until n)` on this thread, timed after one warm-up pass. */
  private def usPer(n: Int)(f: Int => Int): Double = {
    var sink = 0
    var i = 0
    while (i < n) { sink += f(i); i += 1 }
    val t0 = System.nanoTime()
    i = 0
    while (i < n) { sink += f(i); i += 1 }
    val us = (System.nanoTime() - t0) / 1e3 / math.max(n, 1)
    if (sink == 42) print("") // keeps the results alive
    us
  }
}
