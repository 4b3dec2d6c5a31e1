package graftbench

/**
 * Seeded input generators. Every function here is pure in (seed, index),
 * so Spark tasks and the driver's ground-truth code produce the same
 * points and documents without sharing state.
 */
object Gen {

  // ---------------------------------------------------------------- scrape

  val Types: Array[String] = Array("cpu", "mem", "req", "err")
  val Regions: Array[String] = Array("us", "eu", "ap")
  val ScrapeSec = 10L

  final case class Series(idx: Int, typ: String, host: String, region: String)

  /** `hosts` hosts, each exporting every metric type; a host sits in one
    * seeded region. Series index = host * Types.length + type. */
  def series(seed: Long, hosts: Int): Array[Series] =
    Array.tabulate(hosts * Types.length) { i =>
      val h = i / Types.length
      val region = Regions(Math.floorMod(mix(seed, 7919L * h + 1), Regions.length.toLong).toInt)
      Series(i, Types(i % Types.length), f"h$h%03d", region)
    }

  /** One series' scrape points over `steps` intervals from `t0`:
    * (epoch seconds, value in cents). Values mix the shapes Gorilla's XOR
    * coding distinguishes: a slowly moving gauge (cpu), a mostly constant
    * gauge with rare steps (mem), a busy counter with rare resets (req)
    * and a sparse counter (err). Timestamps carry occasional jitter,
    * dropped scrapes and a rare long outage, so every delta-of-delta
    * bucket is exercised. Ascending, no duplicates. */
  def points(seed: Long, s: Series, t0: Long, steps: Int): (Array[Long], Array[Long]) = {
    val r = new java.util.SplittableRandom(mix(seed, 1000003L * s.idx + 17))
    val ts = Array.newBuilder[Long]
    val cs = Array.newBuilder[Long]
    var c = s.typ match {
      case "cpu" => 1000L + r.nextInt(8000)
      case "mem" => 204800L * (1 + r.nextInt(16))
      case _ => 100L * r.nextInt(10000)
    }
    val outage = if (r.nextInt(8) == 0) 1 + r.nextInt(math.max(1, steps - 200)) else -1
    var j = 0
    while (j < steps) {
      if (j == outage) j += 60 + r.nextInt(120) // 10-30 min with no scrape
      if (j < steps) {
        val u = r.nextDouble()
        val jitter = if (j > 0 && j < steps - 1 && u < 0.03) r.nextInt(9) - 4 else 0
        c = s.typ match {
          case "cpu" => math.max(0L, math.min(10000L, c + r.nextInt(41) - 20))
          case "mem" => if (u > 0.99) math.max(0L, c + 100L * (r.nextInt(2001) - 1000)) else c
          case "req" => if (u > 0.9995) 0L else c + 100L * r.nextInt(50)
          case _ => if (u > 0.95) c + 100L else c
        }
        if (u < 0.997 || j == 0) { // ~0.3% dropped scrapes
          ts += t0 + j * ScrapeSec + jitter
          cs += c
        }
      }
      j += 1
    }
    (ts.result(), cs.result())
  }

  // ---------------------------------------------------------------- corpus

  private val Vocab = Array("the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "as", "was", "with", "be", "by", "on", "not", "he", "this", "are", "or", "his", "from",
    "at", "which", "but", "have", "an", "had", "they", "you", "were", "their", "one", "all",
    "we", "can", "her", "has", "there")

  /** ~25% head-vocabulary words, else a log-uniform id out of a 200k-word
    * tail (Zipf-like document frequencies). */
  private def word(r: java.util.SplittableRandom): String =
    if (r.nextInt(4) == 0) Vocab(r.nextInt(Vocab.length))
    else "w" + math.exp(r.nextDouble() * math.log(200000.0)).toLong

  private def freshWords(seed: Long, id: Long): Array[String] = {
    val r = new java.util.SplittableRandom(mix(seed, 2 * id + 1))
    Array.fill(40 + r.nextInt(260))(word(r))
  }

  /** Block size of the planted-duplicate scheme: in every block of 20 ids,
    * slot 1 is a near duplicate of slot 0 (~1% of words substituted) and
    * slot 2 an exact copy of it; every other doc is fresh. */
  val Block = 20

  def docText(seed: Long, id: Long): String = (id % Block) match {
    case 1 =>
      val out = freshWords(seed, id - 1)
      val r = new java.util.SplittableRandom(mix(seed, 2 * id))
      var i = math.max(1, out.length / 100)
      while (i > 0) { out(r.nextInt(out.length)) = word(r); i -= 1 }
      out.mkString(" ")
    case 2 => freshWords(seed, id - 2).mkString(" ")
    case _ => freshWords(seed, id).mkString(" ")
  }

  /** Planted duplicates: dup id -> the block's canonical (smallest) id. */
  def plantedDups(nDocs: Long): Map[Long, Long] =
    (0L until nDocs).filter(id => id % Block == 1 || id % Block == 2)
      .map(id => id -> (id - id % Block)).toMap

  // ---------------------------------------------------------------- util

  /** SplitMix64 finalizer over (seed, k). */
  def mix(seed: Long, k: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
