package graft.extract

import java.util.Locale

/** robots.txt parsing + allow/disallow evaluation per RFC 9309 — the
  * crawl-politeness operator every web-scale ingest runs BEFORE fetch
  * scheduling (the reference consumes already-fetched documents; a
  * Common-Crawl-shaped pipeline must decide fetchability per URL).
  *
  * Implemented from the published spec:
  *  - group selection: the group whose user-agent token is the LONGEST
  *    case-insensitive prefix-token match for the product token; `*`
  *    groups apply only when no specific group matches. A crawler obeys
  *    ONLY its selected group(s).
  *  - rule matching: patterns match a PREFIX of the path; `*` matches
  *    any octet sequence; `$` (pattern end only) anchors to path end.
  *  - precedence: the most specific rule wins — longest pattern in
  *    octets; on a length tie, allow wins. No matching rule = allowed.
  *  - empty `Disallow:` = allow everything (the historic idiom).
  *
  * Pure kernel code (map-side at scale: robots payloads are per-host
  * rows, URL frontiers join against parsed rule sets broadcast per
  * host-partition — no shuffle of page payloads).
  */
object Robots {

  /** One rule: allow/disallow + raw pattern. */
  final case class Rule(allow: Boolean, pattern: String)

  /** All `Sitemap:` declarations in the file, first-seen order, deduped.
    * Sitemap is the sitemaps.org extension and is GLOBAL — it belongs to
    * no user-agent group (RFC 9309 §2.2.4 treats it as an "other
    * record"), so every agent sees every declaration regardless of where
    * in the file it appears. Directive matches case-insensitively;
    * `#` comments strip first; empty values drop. The crawl-seeding
    * chain: these URLs feed [[Sitemaps.parse]], whose entries q48
    * filters through [[evaluate]]. */
  def sitemapUrls(txt: String): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    txt.split("\n").foreach { raw =>
      val line = {
        val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw
      }.trim
      val c = line.indexOf(':')
      if (c > 0) {
        val k = line.substring(0, c).trim.toLowerCase(Locale.ROOT)
        val v = line.substring(c + 1).trim
        if (k == "sitemap" && v.nonEmpty) seen += v
      }
    }
    seen.toSeq
  }

  /** Parse the rule group applicable to `agent` (product token,
    * case-insensitive). Unknown directives (sitemap, …) are ignored;
    * `#` starts a comment. */
  def parse(txt: String, agent: String): Seq[Rule] = selectGroups(txt, agent)._1

  /** The selected group's `Crawl-delay` in seconds (None when absent or
    * unparseable). Nonstandard but universally implemented; the same
    * group-selection rules apply — a specific group's delay shadows the
    * `*` group's, like its rules. First valid value in the chosen
    * group(s) wins. */
  def crawlDelay(txt: String, agent: String): Option[Double] =
    selectGroups(txt, agent)._2

  private def selectGroups(txt: String, agent: String): (Seq[Rule], Option[Double]) = {
    val want = agent.toLowerCase(Locale.ROOT)
    // collect groups: (agent tokens, rules, crawl-delay)
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(List[String], List[Rule], Option[Double])]
    var curAgents = List.empty[String]
    var curRules = List.empty[Rule]
    var curDelay = Option.empty[Double]
    var inHeader = true // consecutive user-agent lines accumulate one group
    def closeGroup(): Unit = {
      if (curAgents.nonEmpty) groups += ((curAgents.reverse, curRules.reverse, curDelay))
      curAgents = Nil; curRules = Nil; curDelay = None
    }
    txt.split("\n").foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (!inHeader) closeGroup()
              curAgents = value.toLowerCase(Locale.ROOT) :: curAgents
              inHeader = true
            case "allow" if curAgents.nonEmpty =>
              curRules = Rule(allow = true, value) :: curRules; inHeader = false
            case "disallow" if curAgents.nonEmpty =>
              // empty Disallow = allow all: drop the rule entirely
              if (value.nonEmpty) curRules = Rule(allow = false, value) :: curRules
              inHeader = false
            case "crawl-delay" if curAgents.nonEmpty =>
              if (curDelay.isEmpty)
                curDelay = value.toDoubleOption.filter(d => d >= 0 && d.isFinite)
              inHeader = false
            case _ => inHeader = false // unknown directive ends a header run
          }
        }
      }
    }
    closeGroup()
    // most specific agent-token match; '*' only as fallback
    def agentScore(tokens: List[String]): Int =
      tokens.map { t =>
        if (t == "*") 0
        else if (want == t || want.startsWith(t)) t.length + 1
        else -1
      }.max
    val specific = groups.filter(g => agentScore(g._1) > 0)
    val chosen =
      if (specific.nonEmpty) {
        val best = specific.map(g => agentScore(g._1)).max
        specific.filter(g => agentScore(g._1) == best)
      } else groups.filter(_._1.contains("*"))
    (chosen.toSeq.flatMap(_._2), chosen.toSeq.flatMap(_._3).headOption)
  }

  /** Does `pattern` match a prefix of `path`? `*` = any sequence, `$`
    * at pattern end = end-of-path anchor. Iterative backtracking —
    * linear in practice, no regex compilation per path. */
  def matches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    var pi = 0; var si = 0
    var starPi = -1; var starSi = -1
    val pn = p.length; val sn = path.length
    while (si < sn) {
      if (pi == pn && !anchored) return true // pattern exhausted mid-path -> prefix match
      else if (pi < pn && (p.charAt(pi) == path.charAt(si))) { pi += 1; si += 1 }
      else if (pi < pn && p.charAt(pi) == '*') { starPi = pi; pi += 1; starSi = si }
      else if (starPi >= 0) { pi = starPi + 1; starSi += 1; si = starSi } // incl. anchored retry
      else return false
    }
    // path exhausted: remaining pattern must be all '*'
    while (pi < pn && p.charAt(pi) == '*') pi += 1
    pi == pn && (!anchored || si == sn)
  }

  /** Longest-pattern-wins evaluation; allow on a length tie; default
    * allowed. */
  def isAllowed(rules: Seq[Rule], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (matches(r.pattern, path)) {
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len; bestAllow = r.allow
        }
      }
    }
    bestAllow
  }
}
