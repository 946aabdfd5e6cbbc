package graft.wbot

/**
 * Row and config types shared by the Spark engine, the sequential Oracle
 * simulator, and the fixture generator. Mirrors the reference record types
 * (`/root/reference/pkg/api/wbot.go:68-107`) re-expressed as Spark-encodable
 * case classes.
 */
object Schemas {

  /** A frontier entry — the reference `Request` (`wbot.go:68-72`) with URL
    * identity precomputed (`ParsedURL`, `wbot.go:84-88`) and the explicit
    * BFS sequence number that reifies the FIFO queue order (`queue.go:37-49`). */
  final case class FrontierRow(
      url: String, // Go-serialized absolute URL (fetch key pre-canon)
      canon: String, // canonical form, hashLink's pre-hash string (wbot.go:219-238)
      hash: String, // sha256 hex of canon — reference-exact identity
      hash64: Long, // xxhash64(canon) — partitioning / Bloom key
      host: String, // URL host[:port] as parsed (Q1 operand, crawler.go:252)
      root: String, // registrable domain (politeness + rule key)
      depth: Int,
      score: Long, // drain priority within a depth (O2); 0 everywhere ≡ pure FIFO
      seq: Long, // global BFS sequence (depth-major, FIFO within depth)
      ua: String, // sticky per-seed-branch user agent (crawler.go:279 quirk)
      proxy: String // sticky per-seed-branch proxy (crawler.go:180-182); "" = none
  )

  /** One fetched page — the reference `Response` (`wbot.go:74-82`) flattened. */
  final case class CrawledRow(
      url: String,
      canon: String,
      hash: String,
      depth: Int,
      seq: Long,
      status: Int,
      superstep: Int, // which superstep actually fetched it (politeness deferral)
      interval: Int // rate-interval slot within the superstep (R1 schedule)
  )

  /** Filter rule (`wbot.go:98-102`): regex allow/disallow per registrable
    * domain, `"*"` wildcard, default-deny-once-a-rule-matches
    * (`filter.go:35-57`). */
  final case class FilterRule(hostname: String, allow: List[String], disallow: List[String])

  /** Per-host politeness budget — reference rate string "N/Mu"
    * (`limiter.go:61-90`) reduced to N fetches per rate interval. */
  final case class RateLimit(hostname: String, rate: String)

  /** Parsed budget: N requests per interval of `intervalMs`. */
  final case class Budget(n: Int, intervalMs: Long)

  /** `parseRateLimit` (`limiter.go:61-90`): "N/Mu" with unit s/m/h
    * (case-insensitive); any malformed part falls back to the default 10/1s. */
  def parseRateLimit(s: String): Budget = {
    val default = Budget(10, 1000L)
    val parts = s.split("/", -1)
    if (parts.length != 2) return default
    val n = parts(0).toIntOption.getOrElse(return default)
    val iv = parts(1)
    if (iv.isEmpty) return default
    val num = iv.substring(0, iv.length - 1).toIntOption.getOrElse(return default)
    val ms = iv.charAt(iv.length - 1) match {
      case 's' | 'S' => num * 1000L
      case 'm' | 'M' => num * 60000L
      case 'h' | 'H' => num * 3600000L
      case _         => return default
    }
    Budget(n, ms)
  }

  /** One robots.txt rule: host-keyed Allow/Disallow path pattern per agent
    * group (RFC 9309). `pattern` supports `*` (any sequence) and a trailing
    * `$` end anchor. An empty rule set = the reference's effective behavior
    * (its robots map is never populated — `robot.go:32-41` always allows). */
  final case class RobotsRule(host: String, agent: String, allow: Boolean, pattern: String)

  /** RFC 9309 path-pattern matching, compiled once per distinct pattern
    * (the rule table is broadcast-small; paths number in the billions). */
  object RobotsMatch {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]
    def regexOf(pattern: String): java.util.regex.Pattern =
      cache.computeIfAbsent(pattern, p => {
        val anchored = p.endsWith("$")
        val core = if (anchored) p.substring(0, p.length - 1) else p
        val rx = "^" + core.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*") +
          (if (anchored) "$" else "")
        java.util.regex.Pattern.compile(rx)
      })
    def matches(pattern: String, path: String): Boolean =
      regexOf(pattern).matcher(path).find()
  }

  /** The 44-extension reject regex (`/root/reference/filter.go:10`), applied
    * to the decoded URL path. */
  val badExtRegex: String =
    "\\.(png|jpg|jpeg|gif|ico|eps|pdf|iso|mp3|mp4|zip|aif|mpa|wav|wma|7z|deb|pkg|rar|rpm|bin|dmg|dat|tar|exe|ps|psd|svg|tif|tiff|pps|ppt|pptx|xls|xlsx|wmv|doc|docx|txt|mov|mpl|css|js)$"
  val badExtPattern: java.util.regex.Pattern = java.util.regex.Pattern.compile(badExtRegex)

  val defaultUserAgent = "WBot/v0.2.0 (+https://github.com/twiny/wbot)" // config.go:12
  val defaultMaxBodySize: Long = 5L * 1024 * 1024 // config.go:14
  val defaultMaxDepth = 10 // config.go:30-32

  /** Engine configuration — the reference `config` (`config.go:19-28`) plus
    * Spark-side knobs. */
  final case class CrawlConfig(
      maxDepth: Int = defaultMaxDepth,
      maxBodySize: Long = defaultMaxBodySize,
      userAgents: Vector[String] = Vector(defaultUserAgent),
      proxies: Vector[String] = Vector.empty, // rotating per seed, sticky per branch
      rateLimits: Map[String, Budget] = Map("*" -> Budget(10, 1000L)),
      filterRules: Map[String, FilterRule] = Map.empty,
      robots: Seq[RobotsRule] = Seq.empty,
      robotsStandardMode: Boolean = false, // false = reference parity (no-op gate)
      partitions: Int = 32, // P: hash-range partition count for seen/frontier
      // O2: drain-priority SQL expression over the frontier columns
      // (url, canon, hash, host, root, depth), cast to bigint; HIGHER scores
      // drain earlier within a depth level. None ≡ constant 0 ≡ the
      // reference's pure FIFO (queue.go:37-49). Schedule-only: crawl order
      // (seq) and the seen set are score-invariant.
      scoreExpr: Option[String] = None,
      strictPoliteness: Boolean = false, // true: physically drain per rate-interval
      // with strictPoliteness: pace interval drains in WALL-CLOCK time — slot
      // i's fetch starts no earlier than i × (longest configured budget
      // interval), the reference's blocking token bucket (limiter.go:52-59)
      // for a continuous service. Off for batch/bench (logical slots only).
      paceWallClock: Boolean = false,
      // Bloom seen store (BloomSeen). It is BUILT only where the superstep
      // probes it: with bloomTwoPassProbe, or when partitions × segment
      // bytes exceed bloomBroadcastMaxBytes (the cogroup regime — above
      // ~3,276 partitions at the defaults). Otherwise no store exists and
      // the exact anti-join decides alone; results are identical either way.
      bloomEnabled: Boolean = true,
      bloomBitsPerKey: Int = 10,
      // Where a store is built, segment upkeep (a merge per superstep) only
      // pays once the seen set dwarfs it: below this seen-set size the exact
      // anti-join runs alone and the store is built once, in a catch-up
      // over every seen key, the superstep the size is crossed.
      // 0 = active from the first superstep.
      bloomMinSeen: Long = 0L,
      // seen-set Bloom distribution strategy cutover: total segment bytes at
      // or below this broadcast (transient, per-superstep); above it,
      // candidates pid-shuffle and hash-join their own segment row
      // 10^8-key measurement: 119 MB of segments still broadcast-probes 3.6x
      // faster than the pid-cogroup (the cogroup pays a full candidate
      // shuffle); cut over only when per-executor memory actually hurts
      bloomBroadcastMaxBytes: Long = 256L << 20,
      // Force the two-leg probe split (sure rows bypass the anti-join) even
      // in the broadcast-probe regime, which also makes the store exist
      // there. Default OFF: with the aligned seen side the split's second
      // read of the first-occurrence shuffle costs more than the bloom saves
      // (see the fresh0pre comment in SparkCrawler); the cogroup path always
      // splits. Parity tests force this on to pin the broadcast two-leg
      // shape and the catch-up build result-identical.
      bloomTwoPassProbe: Boolean = false,
      checkpointDir: Option[String] = None,
      maxSupersteps: Int = Int.MaxValue, // stop after N supersteps (resume testing / ops)
      recordStreams: Boolean = true, // retain order/attempts streams (parity tests, sinks)
      // Seen-set rows at or below which the anti-join's seen side broadcasts;
      // also the bound below which per-superstep delta alignment is deferred
      // (tiny supersteps skip the alignP-wide side job; the crossing
      // superstep folds the accumulated smalls into one aligned store — a
      // compaction commit when checkpointing). Default sized so the
      // broadcast relation stays well under executor memory. Tests lower it
      // to exercise the fold/aligned-resume path at fixture scale.
      smallSeenBound: Long = 200000L,
      // Width P of the canon-hash layout the seen-set deltas are aligned to
      // (the anti-join's seen-side partitioning and the bucketed-commit
      // width). None = the session's spark.sql.shuffle.partitions — right
      // while seen/P fits a shuffled-hash build comfortably. SIZING RULE at
      // scale: the per-task build side is seen_rows × ~160 B / P, so pick P
      // ≈ seen_rows × 160 B / 60 MB (e.g. P = 16384 at 10^10 keys) and grow
      // it across resumes as the seen set grows. Width changes are SAFE
      // across resumes: deltas committed bucketed at a different width
      // reconstruct as plain leaves and pay one O(residue) re-shuffle
      // (Storage.readSeenDeltas compares the on-disk aligned_p), and results
      // are width-invariant (SeenAlignWidthSpec pins order/seen/metrics
      // byte-equal across widths).
      seenAlignPartitions: Option[Int] = None
  ) {
    def budgetFor(root: String): Budget =
      rateLimits.getOrElse(root, rateLimits.getOrElse("*", Budget(10, 1000L)))
    def uaFor(seedIdx: Int): String = userAgents(seedIdx % userAgents.length)
    def proxyFor(seedIdx: Int): String =
      if (proxies.isEmpty) "" else proxies(seedIdx % proxies.length)
  }

  /** Compiled-pattern cache for the filter-rule engine: the rule table is
    * config-sized but its patterns run per CANDIDATE — compiling per row
    * (what the reference does implicitly via regexp.MatchString,
    * `filter.go:44-54`) would dominate the candidate hot path. Same pattern
    * as [[RobotsMatch]]. */
  private val filterRx = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]
  private def filterPattern(p: String): java.util.regex.Pattern =
    filterRx.computeIfAbsent(p, java.util.regex.Pattern.compile(_))

  /** `filter.allow` (`/root/reference/filter.go:30-57`), shared by the Oracle
    * and the Spark predicate builder: bad-extension check on the decoded
    * path; then host rule (exact root, else "*", else allow); with a rule:
    * any disallow match on the full URL string → deny; any allow match →
    * allow; else deny. */
  def filterAllow(rules: Map[String, FilterRule], root: String, path: String, urlStr: String): Boolean = {
    if (badExtPattern.matcher(path).find()) return false
    val rule = rules.get(root).orElse(rules.get("*")) match {
      case None    => return true
      case Some(r) => r
    }
    if (rule.disallow.exists(p => filterPattern(p).matcher(urlStr).find())) return false
    rule.allow.exists(p => filterPattern(p).matcher(urlStr).find())
  }

  /** Standard robots gate per RFC 9309: pick the MOST SPECIFIC matching
    * agent group (longest agent token the UA contains, case-insensitive;
    * else the "*" group); within it the longest matching pattern wins, and
    * Allow beats Disallow on equal length. No matching rule → allowed.
    * Reference parity mode uses an EMPTY rule set → always allow
    * (`robot.go:35-38` — its robotstxt dependency would enforce exactly
    * this precedence if it were ever fed). */
  def robotsAllowed(rules: Seq[RobotsRule], host: String, path: String, ua: String): Boolean = {
    val hostRules = rules.filter(_.host == host)
    if (hostRules.isEmpty) return true
    val uaLower = ua.toLowerCase
    val namedAgents = hostRules.iterator.map(_.agent)
      .filter(a => a != "*" && uaLower.contains(a.toLowerCase)).toSeq
    val group =
      if (namedAgents.nonEmpty) {
        val best = namedAgents.maxBy(_.length) // most specific group (§2.2.1)
        hostRules.filter(_.agent.equalsIgnoreCase(best))
      } else hostRules.filter(_.agent == "*")
    val matching = group.filter(r => r.pattern.nonEmpty && RobotsMatch.matches(r.pattern, path))
    if (matching.isEmpty) true
    else {
      val maxLen = matching.map(_.pattern.length).max
      matching.filter(_.pattern.length == maxLen).exists(_.allow) // Allow wins ties
    }
  }
}
