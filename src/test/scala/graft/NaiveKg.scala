package graft

import graft.extract.HtmlText
import graft.mention.Mention
import graft.model._

/** Independent driver-side golden oracle: plain Scala collections +
  * union-find, no Spark. Implements the frozen specs (Mention.scala /
  * Link.scala / Emit.scala scaladoc) a second time so the distributed
  * pipeline is checked against a sequential re-derivation
  * (SURVEY.md §5 layer 3 — the reference ships no tests; this oracle is
  * our stand-in for its emitted triple set).
  */
object NaiveKg {

  final case class Result(
      triples: Set[(String, String, String)],
      nodes: Set[(String, String)],
      textSha: Map[String, String])

  def build(pages: Seq[PageRow], dict: Seq[AliasRow], sameas: Seq[SameAsEdge],
      nPages: Long): Result = {
    // 1. dedup by url: keep max (warc_ts, xxhash64(html)) — the frozen
    // tie-break key (Extract.scala scaladoc)
    val latest = pages.groupBy(_.url).values
      .map(rs => rs.maxBy(p => (p.warc_ts.getTime, graft.util.Det.xxh64Bytes(p.html))))
      .toSeq.sortBy(_.url)

    // 2. extract
    val extracted = latest.map { p =>
      val text = HtmlText.extract(p.html)
      (p.url, graft.extract.Extract.site(p.url), text,
        HtmlText.extractLinks(p.html), HtmlText.sha256Hex(text))
    }
    val urlSet = extracted.map(_._1).toSet

    // 3. mentions + candidates
    val byAlias: Map[String, Seq[AliasRow]] = dict.groupBy(_.alias)
    val maxLen = dict.map(a => Mention.aliasTokenCount(a.alias)).max
    val cands: Seq[CandidateRow] = extracted.flatMap { case (url, _, text, _, _) =>
      val toks = Mention.tokenize(text)
      for {
        s <- toks.indices
        l <- 1 to maxLen if s + l <= toks.length
        surface = toks.slice(s, s + l).mkString(" ")
        a <- byAlias.getOrElse(surface, Nil)
      } yield CandidateRow(url, s, l, surface, a.entity_id, a.prior)
    }

    // 4. link: idf + page support, argmax w/ min-entity tie-break
    val df: Map[String, Int] =
      cands.map(c => (c.url, c.alias)).distinct.groupBy(_._2).map { case (a, v) => a -> v.size }
    val support: Map[(String, Long), Int] =
      cands.groupBy(c => (c.url, c.entity_id)).map { case (k, v) => k -> v.size }
    val linked: Seq[(String, Int, Int, Long)] = cands
      .groupBy(c => (c.url, c.tok_start, c.tok_len)).toSeq
      .map { case ((url, s, l), cs) =>
        val scored = cs.map { c =>
          val sc = c.prior * math.log(1.0 + nPages.toDouble / df(c.alias)) +
            0.01 * support((c.url, c.entity_id))
          (sc, c.entity_id)
        }
        val best = scored.minBy { case (sc, e) => (-sc, e) }
        (url, s, l, best._2)
      }

    // 5. canonicalization via union-find, canonical = component min
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    sameas.foreach(e => union(e.src_entity, e.dst_entity))
    val allEntities = dict.map(_.entity_id).distinct
    val compMin: Map[Long, Long] = allEntities.groupBy(find).flatMap {
      case (_, members) => val m = members.min; members.map(_ -> m)
    }
    def canon(e: Long): Long = compMin.getOrElse(e, e)

    // 6. triples — contains is the FULL path hierarchy (root → host →
    // …sections… → page), the frozen FOLDER-analog spec
    // (Hierarchy.scala scaladoc)
    def prefixes(url: String): Seq[String] = {
      // frozen messy-url policy (Hierarchy Scaladoc): everything from
      // the first '?' or '#' is not path — re-derived here with the same
      // regex SHAPE as the DuckDB oracle, independent of PathPrefixes
      val path = url.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
        .replaceAll("(?s)[?#].*", "")
      val segs = path.split("/", -1).toSeq
      if (segs.length <= 1) Seq(path)
      else (1 until segs.length).map(k => segs.take(k).mkString("/"))
    }
    val contains = extracted.flatMap { case (url, _, _, _, _) =>
      val ps = prefixes(url)
      val chain = ("graft:root" +: ps).sliding(2)
        .map(p => (p(0), Pred.Contains, p(1))).toSeq
      chain :+ ((ps.last, Pred.Contains, url))
    }.toSet
    val pageEnts: Map[String, Set[Long]] = linked.groupBy(_._1)
      .map { case (u, ms) => u -> ms.map(m => canon(m._4)).toSet }
    val mentions = pageEnts.flatMap { case (u, es) =>
      es.map(e => (u, Pred.Mentions, s"ent:$e"))
    }.toSet
    val linksTo = extracted.flatMap { case (url, _, _, links, _) =>
      links.filter(urlSet.contains).map(d => (url, Pred.LinksTo, d))
    }.toSet
    // frozen policy: pairs among the RelatesCap SMALLEST canon ids per
    // page (Emit.scala scaladoc)
    val relates = pageEnts.values.flatMap { es =>
      val sorted = es.toSeq.sorted.take(graft.emit.Emit.RelatesCap)
      for { i <- sorted.indices; j <- (i + 1) until sorted.size }
        yield (s"ent:${sorted(i)}", Pred.RelatesTo, s"ent:${sorted(j)}")
    }.toSet

    val triples = contains ++ mentions ++ linksTo ++ relates
    val endpoints = triples.flatMap(t => Set(t._1, t._3))
    val sites = extracted.map(e => prefixes(e._1).head).toSet
    val sections = extracted.flatMap(e => prefixes(e._1).drop(1)).toSet
    val nodes = (
      Set(("graft:root", Label.Project)) ++
        sites.map(s => (s, Label.Site)) ++
        sections.map(s => (s, Label.Section)) ++
        extracted.map(e => (e._1, Label.Page)).toSet ++
        endpoints.filter(_.startsWith("ent:")).map(e => (e, Label.Entity))
      ).filter(n => endpoints.contains(n._1))

    Result(triples, nodes, extracted.map(e => e._1 -> e._5).toMap)
  }
}
