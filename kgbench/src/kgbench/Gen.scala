package kgbench

import graft.spark.{Doc, Span}

/** Seeded input generators for the three workloads. They live here, not in
  * the program, so that no program change can alter a workload: the program
  * only ever sees the tables these functions produce. Every draw goes
  * through [[Rng]], seeded from (seed, workload, row index), so one seed
  * gives the same bytes on any JVM.
  */
object Gen {

  /** splitmix64: a stable, seedable mixer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(bound: Int): Int = Math.floorMod(nextLong(), bound.toLong).toInt
    def chance(p: Double): Boolean = (nextLong() >>> 11) * (1.0 / (1L << 53)) < p
    def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))
  }

  private def rowRng(seed: Long, salt: Long, idx: Long): Rng = new Rng(mix(mix(seed ^ salt) ^ idx))

  def docId(idx: Long): String = f"d$idx%07d"

  val Vocab = "http://graft.example/vocab/"
  val CtxBase = "http://graft.example/ctx/"

  // ---------------------------------------------------------------- kg-build

  /** Input properties of `kg-build`, as recorded in BENCHMARK.json. */
  object Kg {
    val Docs = 6000
    // span kinds, cumulative thresholds out of 100: 35 text, 45 jsonld, 10 html, 10 media
    val TextPct = 35; val JsonldPct = 80; val HtmlPct = 90
    val RemoteCtxShare = 0.25 // of jsonld payloads
    val HostileShare = 0.02 // of jsonld and html spans
    val Entities = 3000 // shared entity IRIs, so the dedup shuffle removes rows
  }

  // rdf:type is skewed: 60% of typed nodes are Articles
  private val types = IndexedSeq.fill(12)("Article") ++ IndexedSeq("Person", "Person", "Place", "Event",
    "Organization", "Product", "Review", "Dataset")
  private val remoteCtx = IndexedSeq(
    "vocab.jsonld" -> "name", "prefixes.jsonld" -> "sdo:name", "protected.jsonld" -> "title",
    "redirect.jsonld" -> "name", "typed.jsonld" -> "homepage")
  private val textWords = IndexedSeq("the", "quick", "graph", "spark", "engine", "expands", "documents", "into",
    "triples", "knowledge", "data", "scale", "pipeline", "context", "entity", "linked", "model", "query")

  /** Zipf-like draw over the shared entities: low ids are far more common. */
  private def entity(r: Rng): String = {
    val u = (r.nextLong() >>> 11) * (1.0 / (1L << 53))
    s"http://graft.example/entity/e${(Kg.Entities * u * u * u).toInt}"
  }

  private def jsonStr(s: String): String = "\"" + s + "\""

  /** One JSON-LD payload; each template exercises a different engine branch. */
  private def jsonldPayload(r: Rng, d: Long, s: Int): String = {
    val e = entity(r)
    val t = r.pick(types)
    if (r.chance(Kg.RemoteCtxShare)) {
      val (ctx, prop) = r.pick(remoteCtx)
      val value = if (prop == "homepage") s"""{"@id":"${entity(r)}"}""" else jsonStr(s"remote $d")
      // a remote context alone, or followed by an inline one
      val context =
        if (r.chance(0.5)) jsonStr(CtxBase + ctx)
        else s"""[${jsonStr(CtxBase + ctx)},{"rank":"${Vocab}rank"}]"""
      return s"""{"@context":$context,"@id":"$e","@type":"${Vocab}$t","$prop":$value,"rank":${r.nextInt(5)}}"""
    }
    r.nextInt(8) match {
      case 0 => // inline vocab, typed shared entity (identical triples across docs)
        s"""{"@context":{"@vocab":"$Vocab"},"@id":"$e","@type":"$t","name":"entity ${e.substring(e.lastIndexOf('/') + 1)}"}"""
      case 1 => // property- and type-scoped contexts
        s"""{"@context":{"@vocab":"$Vocab","detail":{"@context":{"@vocab":"http://graft.example/detail/"}},""" +
          s""""Article":{"@context":{"headline":"http://schema.example/headline"}}},"@id":"$e","@type":"Article",""" +
          s""""headline":"h$d-$s","detail":{"depth":${r.nextInt(5)}}}"""
      case 2 => // list, language, index and set containers
        s"""{"@context":{"@vocab":"$Vocab","items":{"@container":"@list"},"label":{"@container":"@language"},""" +
          s""""post":{"@container":"@index"},"tags":{"@container":"@set"}},"@id":"$e","items":[${r.nextInt(9)},""" +
          s"""${r.nextInt(9)},${r.nextInt(9)}],"label":{"en":"hello $d","de":"hallo $d"},""" +
          s""""post":{"a":{"body":"pa$d"},"b":{"body":"pb$s"}},"tags":["t${r.nextInt(20)}","t${r.nextInt(20)}"]}"""
      case 3 => // @reverse
        s"""{"@context":{"@vocab":"$Vocab","children":{"@reverse":"${Vocab}parent"}},"@id":"$e",""" +
          s""""children":[{"@id":"${entity(r)}"},{"@id":"${entity(r)}"}]}"""
      case 4 => // @json literal
        s"""{"@context":{"@vocab":"$Vocab","payload":{"@type":"@json"}},"@id":"$e",""" +
          s""""payload":{"k":[${r.nextInt(100)},true,null],"s":"v$d"}}"""
      case 5 => // doc-local blank nodes, labelled and anonymous
        s"""{"@context":{"@vocab":"$Vocab"},"@id":"_:a$s","knows":{"@id":"_:b$s","name":"n$d"},""" +
          s""""about":{"@id":"$e"},"addr":{"street":"s$d","geo":{"lat":${r.nextInt(90)}}}}"""
      case 6 => // named graph
        s"""{"@context":{"@vocab":"$Vocab"},"@id":"http://graft.example/g/$d-$s","@graph":[""" +
          s"""{"@id":"$e","@type":"$t"},{"@id":"${entity(r)}","name":"g$d"}]}"""
      case _ => // @id and @type containers, relative IRIs against @base
        s"""{"@context":{"@vocab":"$Vocab","@base":"http://graft.example/doc/$d/","byId":{"@container":"@id"},""" +
          s""""byType":{"@container":"@type"}},"@id":"frag$s","byId":{"x$s":{"w":${r.nextInt(10)}}},""" +
          s""""byType":{"$t":{"name":"t$d"}},"sameAs":{"@id":"$e"}}"""
    }
  }

  /** Hostile spans: malformed JSON, nesting past the parser's depth limit,
    * or a remote context that no pool resolves. Each must cost one error row.
    */
  private def hostile(r: Rng, d: Long): String = r.nextInt(3) match {
    case 0 => s"""{"@context":{"@vocab":"$Vocab"},"@id":"http://graft.example/e/$d","name":"""
    case 1 => "[" * 600 + "]" * 600
    case _ => s"""{"@context":"${CtxBase}missing-$d.jsonld","@id":"http://graft.example/e/$d"}"""
  }

  private def textSpan(r: Rng): String = {
    val n = 4 + r.nextInt(24)
    (0 until n).map(_ => r.pick(textWords)).mkString(" ") + "."
  }

  def kgDoc(seed: Long, idx: Long): Doc = {
    val r = rowRng(seed, 0x4b47L, idx)
    val nSpans = 1 + r.nextInt(8)
    var offset = 0
    val spans = (0 until nSpans).map { s =>
      offset += 1 + r.nextInt(500)
      val k = r.nextInt(100)
      if (k < Kg.TextPct) Span("text", textSpan(r), null, offset)
      else if (k < Kg.HtmlPct) {
        val payload = if (r.chance(Kg.HostileShare)) hostile(r, idx) else jsonldPayload(r, idx, s)
        if (k < Kg.JsonldPct) Span("jsonld", payload, null, offset)
        else {
          val second = if (r.chance(0.5)) s"""<script type="application/ld+json">${jsonldPayload(r, idx, s + 100)}</script>""" else ""
          Span("html", s"""<html><head><title>p$idx</title><script type="application/ld+json">$payload</script>$second""" +
            s"""</head><body><p>${textSpan(r)}</p></body></html>""", null, offset)
        }
      } else Span("media", null, f"media://bucket/${mix(seed ^ (idx * 31 + s))}%016x", offset)
    }
    Doc(docId(idx), spans)
  }

  def kgDocs(seed: Long): Vector[Doc] = Vector.tabulate(Kg.Docs)(i => kgDoc(seed, i.toLong))

  // ------------------------------------------------ canon-dedup: Canonicalize

  /** Input properties of the Canonicalize part of `canon-dedup`, as recorded in BENCHMARK.json. */
  object Canon {
    val Docs = 700
    val ChainShare = 0.3 // of spans that also carry blank-node chains
    val ChainDepth = 4 // blank nodes per chain
    val TieShare = 0.5 // of chain pairs whose two chains are identical (automorphic)
  }

  /** Mostly IRI-subject triples; some spans add two blank-node chains of
    * depth [[Canon.ChainDepth]]. Chains with distinct leaves separate only
    * after depth-1 refinement rounds; chains with identical leaves are
    * automorphic and never separate, so the tie-break decides.
    */
  def canonDoc(seed: Long, idx: Long): Doc = {
    val r = rowRng(seed, 0x434eL, idx)
    val nSpans = 1 + r.nextInt(3)
    var offset = 0
    val spans = (0 until nSpans).map { s =>
      offset += 1 + r.nextInt(500)
      val props = (0 until 6 + r.nextInt(6)).map(p => s""""p$p":"v${r.nextInt(50)}"""").mkString(",")
      val node = s"""{"@id":"http://graft.example/e/$idx-$s","@type":"${r.pick(types)}",$props,"link":{"@id":"${entity(r)}"}}"""
      val text =
        if (!r.chance(Canon.ChainShare)) s"""{"@context":{"@vocab":"$Vocab"},"@graph":[$node]}"""
        else {
          def chain(leaf: String): String =
            (1 until Canon.ChainDepth).foldLeft(s"""{"p":"$leaf"}""")((inner, _) => s"""{"p":$inner}""")
          val tie = r.chance(Canon.TieShare)
          val a = chain(s"La${idx}_$s")
          val b = chain(if (tie) s"La${idx}_$s" else s"Lb${idx}_$s")
          s"""{"@context":{"@vocab":"$Vocab"},"@graph":[$node,$a,$b]}"""
        }
      Span("jsonld", text, null, offset)
    }
    Doc(docId(idx), spans)
  }

  def canonDocs(seed: Long): Vector[Doc] = Vector.tabulate(Canon.Docs)(i => canonDoc(seed, i.toLong))

  // ---------------------------------------------------- canon-dedup: DedupOps

  /** Input properties of the DedupOps part of `canon-dedup`, as recorded in BENCHMARK.json. */
  object Dedup {
    val Docs = 1400
    val InjectedEvery = 20 // every 20th doc is a near copy of a random earlier doc (5%)
    val WordsPerDoc = 60
  }

  final case class TextDoc(doc_id: String, text: String)

  private def word(r: Rng): String = {
    val n = 3 + r.nextInt(7)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  /** Random-letter words, so unrelated docs share almost no 5-shingles; an
    * injected doc copies an earlier doc and replaces one word.
    * Returns the docs and the injected (earlier id, copy id) pairs.
    */
  def dedupDocs(seed: Long): (Vector[TextDoc], Vector[(String, String)]) = {
    val texts = new Array[String](Dedup.Docs)
    val pairs = Vector.newBuilder[(String, String)]
    for (i <- 0 until Dedup.Docs) {
      val r = rowRng(seed, 0x4444L, i.toLong)
      texts(i) =
        if (i % Dedup.InjectedEvery == Dedup.InjectedEvery - 1) {
          val src = r.nextInt(i)
          val ws = texts(src).split(' ')
          ws(r.nextInt(ws.length)) = word(r)
          pairs += docId(src.toLong) -> docId(i.toLong)
          ws.mkString(" ")
        } else Vector.fill(Dedup.WordsPerDoc)(word(r)).mkString(" ")
    }
    (Vector.tabulate(Dedup.Docs)(i => TextDoc(docId(i.toLong), texts(i))), pairs.result())
  }
}
