package kgbench

import graft.core.{ApiState, JsonLdOptions}
import graft.spark.{Doc, ExpandStage, RemoteContextPool}

/** Tests of the benchmark's own parts: the generators are deterministic, and
  * every output check rejects a deliberately corrupted output. Runs without
  * Spark: `python3 kgbench/run.py --self-test`.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} - $name")
    if (!ok) failures += 1
  }

  private def bytesOf(docs: Seq[Doc]): Array[Byte] =
    docs.map(d => d.doc_id + "\u0001" + d.spans.map(s => s"${s.kind}\u0002${s.text}\u0002${s.media_ref}\u0002${s.offset}")
      .mkString("\u0003")).mkString("\n").getBytes("UTF-8")

  private def quadsOf(docs: Seq[Doc], scoped: Boolean): Vector[Checks.Quad] = {
    val state = new ApiState(JsonLdOptions(), RemoteContextPool.fullLoader)
    val all = docs.flatMap(d => ExpandStage.expandDoc(d, state, ExpandStage.aliasDictionary)._1).map(t =>
      Checks.Quad(t.subj, t.pred, t.obj_kind, t.obj_value, t.obj_datatype, t.obj_lang, t.graph, if (scoped) t.doc_id else ""))
    if (scoped) all.toVector else all.distinct.toVector
  }

  /** Rename every blank node by a per-scope bijection: a correct relabelling. */
  private def relabel(qs: Vector[Checks.Quad]): Vector[Checks.Quad] = {
    def r(scope: String, l: String) = if (l.startsWith("_:")) s"_:z${Integer.toHexString((scope + l).hashCode)}${l.drop(2)}" else l
    scala.util.Random.shuffle(qs.map(q => q.copy(subj = r(q.scope, q.subj),
      objValue = if (q.objKind == "bnode") r(q.scope, q.objValue) else q.objValue, graph = r(q.scope, q.graph))))
  }

  /** Point one row's blank subject at another blank node of the same scope. */
  private def swapLabel(qs: Vector[Checks.Quad]): Vector[Checks.Quad] = {
    val i = qs.indexWhere(q => q.subj.startsWith("_:") &&
      qs.exists(o => o.scope == q.scope && o.subj.startsWith("_:") && o.subj != q.subj))
    val other = qs.find(o => o.scope == qs(i).scope && o.subj.startsWith("_:") && o.subj != qs(i).subj).get.subj
    qs.updated(i, qs(i).copy(subj = other))
  }

  private def rejects(ref: Checks.Shape, qs: Vector[Checks.Quad]) = Checks.sameShape("t", ref, Checks.shape(qs)).isDefined

  def main(args: Array[String]): Unit = {
    val seed = 5L
    expect("kg-build input is byte-identical for one seed")(
      java.util.Arrays.equals(bytesOf(Gen.kgDocs(seed)), bytesOf(Gen.kgDocs(seed))))
    expect("kg-build input differs across seeds")(
      !java.util.Arrays.equals(bytesOf(Gen.kgDocs(seed)), bytesOf(Gen.kgDocs(seed + 1))))
    expect("canon input is byte-identical for one seed")(
      java.util.Arrays.equals(bytesOf(Gen.canonDocs(seed)), bytesOf(Gen.canonDocs(seed))))
    val (t1, p1) = Gen.dedupDocs(seed); val (t2, p2) = Gen.dedupDocs(seed)
    expect("dedup input is byte-identical for one seed")(t1 == t2 && p1 == p2)
    expect("dedup input differs across seeds")(Gen.dedupDocs(seed + 1)._1 != t1)

    val kg = quadsOf(Gen.kgDocs(seed).take(400), scoped = false)
    val kgRef = Checks.shape(kg)
    expect("kg-build check holds blank nodes")(kgRef.bnodes > 0)
    expect("kg-build check accepts a relabelled, reordered graph")(!rejects(kgRef, relabel(kg)))
    expect("kg-build check rejects a dropped row")(rejects(kgRef, kg.tail))
    expect("kg-build check rejects a swapped label")(rejects(kgRef, swapLabel(kg)))

    val canon = quadsOf(Gen.canonDocs(seed).take(400), scoped = true)
    val canonRef = Checks.shape(canon)
    expect("canon check accepts a per-scope bijective relabelling")(!rejects(canonRef, relabel(canon)))
    expect("canon check rejects a dropped row")(rejects(canonRef, canon.init))
    expect("canon check rejects a swapped label")(rejects(canonRef, swapLabel(canon)))
    val merged = { // two blank nodes of one scope collapse onto one label: not a bijection
      val a = canon.find(_.subj.startsWith("_:")).get
      val b = canon.find(q => q.scope == a.scope && q.subj.startsWith("_:") && q.subj != a.subj).get.subj
      canon.map(q => if (q.scope == a.scope && q.subj == b) q.copy(subj = a.subj) else q)
    }
    expect("canon check rejects a non-bijective label map")(rejects(canonRef, merged))

    val texts = t1.iterator.map(t => t.doc_id -> t.text).toMap
    val lsh = p1.map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    val sim = lsh.map { case (a, b) =>
      (a, b, java.lang.Long.bitCount(graft.ops.DedupOps.simhashJvm(texts(a)) ^ graft.ops.DedupOps.simhashJvm(texts(b))))
    }.filter(_._3 <= 10)
    def pairs(l: Seq[(String, String)], s: Seq[(String, String, Int)]) = Checks.checkPairs(texts, p1, l, s, 0.3, 10)
    expect("dedup check accepts the injected pairs")(pairs(lsh, sim).exists(_.recall == 1.0))
    expect("dedup check rejects a duplicated minhash pair")(pairs(lsh :+ lsh.head, sim).isLeft)
    expect("dedup check rejects a duplicated simhash pair")(pairs(lsh, sim :+ sim.head).isLeft)
    expect("dedup check rejects an unrelated pair")(pairs(lsh :+ (t1(1).doc_id -> t1(2).doc_id), sim).isLeft)
    expect("dedup check rejects a misreported Hamming distance")(
      pairs(lsh, sim.updated(0, sim.head.copy(_3 = sim.head._3 + 1))).isLeft)
    expect("dedup recall drops with a missed pair")(pairs(lsh.tail, sim).exists(_.recall < 1.0))

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
