package graft.spark

import graft.core._

/** Vendored remote-context pool (FIXTURES.md §4) and its resolver.
  *
  * Scale design: remote contexts are resolved ONCE on the driver and
  * broadcast — no per-row HTTP (north_star). The reference's own
  * `FrozenMap<Url, LoadedContext>` cache (/root/reference/src/lib.rs:254) is
  * the single-process version of this; a broadcast map is the 1000-executor
  * version. An unknown IRI must yield `loading remote context failed`, never
  * a network call.
  */
object RemoteContextPool {
  val baseIri = "http://graft.example/ctx/"

  /** Deterministic in-repo pool; exercises vocab, prefixes, protected terms,
    * a string-redirect (/root/reference/src/context.rs:120), and a scoped
    * chain.
    */
  val pool: Map[String, String] = Map(
    s"${baseIri}vocab.jsonld" ->
      """{"@context":{"@vocab":"http://graft.example/vocab/","name":"http://schema.example/name"}}""",
    s"${baseIri}prefixes.jsonld" ->
      """{"@context":{"sdo":"http://schema.example/","ex":"http://graft.example/ns#","rdf":"http://www.w3.org/1999/02/22-rdf-syntax-ns#"}}""",
    s"${baseIri}protected.jsonld" ->
      """{"@context":{"@protected":true,"title":"http://schema.example/title","creator":"http://schema.example/creator"}}""",
    s"${baseIri}redirect.jsonld" ->
      s"""{"@context":"${baseIri}vocab.jsonld"}""",
    s"${baseIri}typed.jsonld" ->
      """{"@context":{"@vocab":"http://graft.example/vocab/","homepage":{"@type":"@id"},"count":{"@type":"http://www.w3.org/2001/XMLSchema#integer"},"tags":{"@container":"@set"}}}"""
  )

  val knownIris: Vector[String] = pool.keys.toVector.sorted

  /** Resolve IRIs: vendored pool first, then (if given) a driver-side
    * fetcher such as [[graft.core.HttpDocumentLoader]]. Fetch failures are
    * dropped — executors then raise the deterministic
    * `loading remote context failed` for those IRIs, never a network call.
    * The fetched document is re-serialized to its JSON text (a Link-header
    * `contextUrl` was already applied by the loader contract before this
    * point for full documents; bare contexts don't carry one).
    */
  def resolveAll(iris: Vector[String], fetcher: Option[DocumentLoader] = None): Map[String, String] =
    iris.flatMap { iri =>
      pool.get(iri).map(iri -> _).orElse(fetcher.flatMap { f =>
        try Some(iri -> graft.json.JsonWriter.write(f.load(iri).document))
        catch { case _: JsonLdError => None }
      })
    }.toMap

  def loaderFor(resolved: Map[String, String]): DocumentLoader =
    new DocumentLoader.MapLoader(resolved)

  /** Full-pool loader for deterministic tests/benchmarks. */
  def fullLoader: DocumentLoader = new DocumentLoader.MapLoader(pool)
}
