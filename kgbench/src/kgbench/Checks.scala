package kgbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output checks. None depends on which canonical blank-node labels the
  * program picks: blank nodes are compared by their structural colour
  * (Weisfeiler-Lehman refinement computed here), never by label.
  */
object Checks {

  /** One quad with its scope (doc id for doc-scoped blank nodes, "" for one global space). */
  final case class Quad(subj: String, pred: String, objKind: String, objValue: String,
      objDatatype: String, objLang: String, graph: String, scope: String)

  /** Label-independent shape of a quad multiset: row count, distinct blank
    * nodes per scope, and a multiset hash of the rows with every blank node
    * replaced by its refined colour.
    */
  final case class Shape(rows: Long, bnodesPerScope: Map[String, Int], wlHash: Long) {
    def bnodes: Long = bnodesPerScope.valuesIterator.map(_.toLong).sum
  }

  private def strHash(s: String): Long =
    if (s == null) 0x51ED27L
    else {
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      (h1.toLong << 32) | (h2 & 0xffffffffL)
    }
  @inline private def comb(acc: Long, x: Long): Long = Gen.mix(acc ^ Gen.mix(x))

  private final val SelfMark = 0x5e1fL

  def shape(quads: IndexedSeq[Quad]): Shape = {
    val n = quads.length
    val ids = new java.util.HashMap[String, Integer]()
    val scopes = scala.collection.mutable.ArrayBuffer[String]()
    def node(scope: String, label: String): Int = {
      val key = scope + "\u0000" + label
      val hit = ids.get(key)
      if (hit != null) hit.intValue
      else { val id = ids.size; ids.put(key, id); scopes += scope; id }
    }
    val sN = new Array[Int](n); val oN = new Array[Int](n); val gN = new Array[Int](n)
    val sH = new Array[Long](n); val pH = new Array[Long](n); val oH = new Array[Long](n)
    val gH = new Array[Long](n); val scH = new Array[Long](n)
    for (i <- 0 until n) {
      val q = quads(i)
      val isS = q.subj.startsWith("_:"); val isO = q.objKind == "bnode"; val isG = q.graph.startsWith("_:")
      sN(i) = if (isS) node(q.scope, q.subj) else -1
      oN(i) = if (isO) node(q.scope, q.objValue) else -1
      gN(i) = if (isG) node(q.scope, q.graph) else -1
      sH(i) = strHash(q.subj); pH(i) = strHash(q.pred); gH(i) = strHash(q.graph); scH(i) = strHash(q.scope)
      oH(i) = comb(comb(comb(strHash(q.objKind), strHash(q.objValue)), strHash(q.objDatatype)), strHash(q.objLang))
    }
    val nodes = ids.size
    // incidences per node: row index * 3 + role (0 subj, 1 obj, 2 graph)
    val inc = Array.fill(nodes)(scala.collection.mutable.ArrayBuilder.make[Int])
    for (i <- 0 until n) {
      if (sN(i) >= 0) inc(sN(i)) += i * 3
      if (oN(i) >= 0) inc(oN(i)) += i * 3 + 1
      if (gN(i) >= 0) inc(gN(i)) += i * 3 + 2
    }
    val incA = inc.map(_.result())
    var colour = Array.fill(nodes)(1L)
    def rowHash(i: Int, self: Int): Long = {
      def part(nodeId: Int, role: Int, constant: Long): Long =
        if (nodeId < 0) constant else if (role == self) SelfMark else colour(nodeId)
      comb(comb(comb(comb(part(sN(i), 0, sH(i)), pH(i)), part(oN(i), 1, oH(i))), part(gN(i), 2, gH(i))), scH(i))
    }
    def distinct(a: Array[Long]): Int = a.distinct.length
    var classes = distinct(colour)
    var stable = false
    var round = 0
    while (!stable && round < 32) {
      val next = new Array[Long](nodes)
      for (v <- 0 until nodes) {
        val sig = incA(v).map(x => rowHash(x / 3, x % 3))
        java.util.Arrays.sort(sig)
        next(v) = sig.foldLeft(comb(colour(v), strHash(scopes(v))))(comb)
      }
      colour = next
      val c = distinct(colour)
      stable = c == classes
      classes = c
      round += 1
    }
    var sum = 0L
    for (i <- 0 until n) sum += rowHash(i, -1)
    val perScope = scopes.groupBy(identity).view.mapValues(_.size).toMap
    Shape(n.toLong, perScope, sum)
  }

  /** Compare two shapes; None when they agree. */
  def sameShape(what: String, expected: Shape, got: Shape): Option[String] =
    if (expected.rows != got.rows) Some(s"$what: ${got.rows} rows, expected ${expected.rows}")
    else if (expected.bnodesPerScope != got.bnodesPerScope)
      Some(s"$what: blank-node label map is not a bijection in some scope " +
        s"(${got.bnodes} labels, expected ${expected.bnodes})")
    else if (expected.wlHash != got.wlHash) Some(s"$what: structure differs (masked multiset hash)")
    else None

  // ---- cheap per-job fingerprints, computed inside Spark

  private val mask32 = lit(0xffffffffL)
  /** Order-independent row hash sum; summing 32-bit halves cannot overflow a long here. */
  def hashSum(cols: Column*): Column = sum(xxhash64(cols: _*).bitwiseAND(mask32))

  private def masked(c: Column, isBnode: Column): Column = when(isBnode, lit("_:")).otherwise(c)
  val tripleCols = Seq("subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang", "graph")
  /** Triple columns with every blank-node label replaced by one constant. */
  def maskedTripleCols: Seq[Column] = Seq(
    masked(col("subj"), col("subj").startsWith("_:")), col("pred"), col("obj_kind"),
    masked(col("obj_value"), col("obj_kind") === "bnode"), col("obj_datatype"), col("obj_lang"),
    masked(col("graph"), col("graph").startsWith("_:")))

  /** (rows, masked hash, full hash) of a triple table, as aggregate columns. */
  def tripleFingerprint(extra: Column*): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    hashSum(maskedTripleCols ++ extra: _*).as("masked"),
    hashSum((tripleCols.map(col) ++ extra): _*).as("full"))

  def fingerprintOf(df: DataFrame, extra: Column*): org.apache.spark.sql.Row = {
    val cols = tripleFingerprint(extra: _*)
    df.agg(cols.head, cols.tail: _*).head()
  }

  // ---- dedup pairs

  /** Exact Jaccard over distinct lower-cased 5-character shingles, whitespace collapsed. */
  def jaccard(a: String, b: String, k: Int = 5): Double = {
    def shingles(t0: String): Set[String] = {
      val t = t0.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).mkString(" ")
      (0 to t.length - k).iterator.map(i => t.substring(i, i + k)).toSet
    }
    val sa = shingles(a); val sb = shingles(b)
    val inter = sa.count(sb.contains)
    inter.toDouble / math.max(sa.size + sb.size - inter, 1)
  }

  final case class PairCheck(lshPairs: Int, simhashPairs: Int, recall: Double)

  /** Verify both pair tables against the texts; returns the counts and the
    * share of injected pairs that MinHash-LSH found, or the first violation.
    */
  def checkPairs(texts: Map[String, String], injected: Seq[(String, String)],
      lsh: Seq[(String, String)], simhash: Seq[(String, String, Int)],
      minJaccard: Double, maxHamming: Int): Either[String, PairCheck] = {
    def ordered(a: String, b: String) = a < b
    val lshSet = lsh.toSet
    lsh.find { case (a, b) => !ordered(a, b) }.foreach(p => return Left(s"minhash pair $p is not ordered"))
    if (lshSet.size != lsh.size) return Left("minhash output holds a duplicated pair")
    lsh.find { case (a, b) => jaccard(texts(a), texts(b)) < minJaccard - 1e-9 }
      .foreach(p => return Left(s"minhash pair $p has exact Jaccard below $minJaccard"))
    val simSet = simhash.map(p => (p._1, p._2)).toSet
    if (simSet.size != simhash.size) return Left("simhash output holds a duplicated pair")
    simhash.find { case (a, b, h) =>
      val d = java.lang.Long.bitCount(graft.ops.DedupOps.simhashJvm(texts(a)) ^ graft.ops.DedupOps.simhashJvm(texts(b)))
      !ordered(a, b) || d != h || d > maxHamming
    }.foreach(p => return Left(s"simhash pair $p is unordered or its Hamming distance is wrong or above $maxHamming"))
    val found = injected.count(p => lshSet.contains(if (ordered(p._1, p._2)) p else p.swap))
    Right(PairCheck(lsh.size, simhash.size, if (injected.isEmpty) 1.0 else found.toDouble / injected.size))
  }
}
