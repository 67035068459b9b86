package graft.operators

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Sketch
import graft.operators.Dedup.{BucketMember, LshMember, LshPair, MemberPair}

/** Differential specs for the dedup kernels: the primitive band keys
  * and match counts, the bucket and star pair streams of
  * `Dedup.minHashLshPairs`, the capped bucket pairs every other capped
  * pair site shares (`Dedup.bucketPairs`) and the union-find of
  * `Dedup.connectedComponents`' local path, each against the
  * `ArrayData`, boxed-iterator or boxed-map form it replaced, kept here
  * as the oracle (the bucket pairs against a nested loop). Band keys decide which bucket a pair comes out of and
  * the labels are the component keepers, so any difference is an
  * output change.
  */
class DedupKernelSpec extends AnyFunSuite {

  /** The replaced forms, verbatim. */
  private object Oracle {
    def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
      val n = if (sig == null) 0 else sig.numElements()
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = 42L
        var i = b * rows
        val end = math.min(i + rows, n)
        while (i < end) {
          if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
          i += 1
        }
        out(b) = XXH64.hashInt(b, h)
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    def sigMatchCount(a: ArrayData, b: ArrayData): Int = {
      val n = math.min(a.numElements(), b.numElements())
      var cnt = 0
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
          cnt += 1
        i += 1
      }
      cnt
    }

    private def sigData(m: LshMember): ArrayData =
      if (m.sig == null) null else UnsafeArrayData.fromPrimitiveArray(m.sig)

    private def keysOf(sig: ArrayData, bands: Int, rows: Int): Array[Long] =
      bandKeys(sig, bands, rows).toLongArray()

    private def sharedUnderCap(ka: Array[Long], kb: Array[Long], limit: Int,
        overCap: Set[(Int, Long)]): Boolean = {
      var b = 0
      while (b < limit) {
        if (ka(b) == kb(b) && (overCap.isEmpty || !overCap.contains((b, ka(b)))))
          return true
        b += 1
      }
      false
    }

    private def lshPair(idA: Long, sigA: ArrayData, idB: Long, sigB: ArrayData): LshPair =
      LshPair(idA, idB,
        if (sigA == null || sigB == null) None
        else Some(sigMatchCount(sigA, sigB)))

    def lshBucketPairs(band: Int, members: Iterator[LshMember],
        maxBucket: Long, bands: Int, rows: Int,
        overCap: Set[(Int, Long)]): Iterator[LshPair] = {
      val ms = scala.collection.mutable.ArrayBuffer.empty[LshMember]
      while (members.hasNext && ms.size <= maxBucket) ms += members.next()
      if (ms.size < 2 || ms.size > maxBucket) return Iterator.empty
      val sigs = ms.map(sigData)
      val keys = sigs.map(keysOf(_, bands, rows))
      Iterator.range(0, ms.size).flatMap { i =>
        Iterator.range(i + 1, ms.size).flatMap { j =>
          val (a, b) = if (ms(i).id < ms(j).id) (i, j) else (j, i)
          if (ms(a).id == ms(b).id || sharedUnderCap(keys(a), keys(b), band, overCap))
            Iterator.empty
          else Iterator.single(lshPair(ms(a).id, sigs(a), ms(b).id, sigs(b)))
        }
      }
    }

    def lshStarPairs(members: Iterator[LshMember], bands: Int,
        rows: Int, overCap: Set[(Int, Long)]): Iterator[LshPair] =
      if (!members.hasNext) Iterator.empty
      else {
        val keeper = members.next()
        val kSig = sigData(keeper)
        val kKeys = keysOf(kSig, bands, rows)
        members.filter(_.id != keeper.id).flatMap { m =>
          val mSig = sigData(m)
          if (sharedUnderCap(kKeys, keysOf(mSig, bands, rows), bands, overCap))
            Iterator.empty
          else Iterator.single(lshPair(keeper.id, kSig, m.id, mSig))
        }
      }

    /** Every member pair of a capped bucket by nested loop: members
      * with a null id or payload are dropped, a bucket left with fewer
      * than 2 or more than `cap` emits nothing, and otherwise each
      * member `i` pairs every member `j` with `ids(j) > ids(i)`, each
      * payload with its own id. */
    def bucketPairs(ms: Seq[BucketMember], cap: Long): Seq[MemberPair] = {
      val live = ms.filter(m => m.id != null && m.v != null)
      if (live.size < 2 || live.size > cap) Seq.empty
      else for (a <- live; b <- live if b.id > a.id)
        yield MemberPair(a.id, a.v, b.id, b.v)
    }

    /** The driver union-find before `Dedup.componentLabels`: a boxed `HashMap` parent
      * table and a `TreeSet` of nodes, as rows in output order. */
    def components(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { x = p; p = parent.getOrDefault(x, x) }
        // path compression
        var y = x0
        while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
        x
      }
      pairs.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // union by MIN id so the root IS the component label
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
        if (!parent.containsKey(a)) parent.put(a, find(a))
        if (!parent.containsKey(b)) parent.put(b, find(b))
      }
      val nodes = new java.util.TreeSet[java.lang.Long]()
      pairs.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
      val it = nodes.iterator()
      while (it.hasNext) { val n = it.next().longValue; out += ((n, find(n))) }
      out.toSeq
    }
  }

  /** A signature of `n` longs drawn from `range` values, so band slices
    * of different signatures often agree. */
  private def sigOf(rnd: Random, n: Int, range: Int): Array[Long] =
    Array.fill(n)(rnd.nextInt(range).toLong - range / 2)

  /** `sig` as `ArrayData` with each element null with probability
    * `pNull`. */
  private def withNulls(rnd: Random, sig: Array[Long], pNull: Double): ArrayData =
    new GenericArrayData(sig.map(v => if (rnd.nextDouble() < pNull) null else v: Any))

  private def keys(a: ArrayData): Seq[Long] = a.toLongArray().toSeq

  test("band keys: the primitive form equals the ArrayData form on full, " +
      "short, long, empty and null signatures, and a prefix of bands is " +
      "the prefix of the keys") {
    val rnd = new Random(7)
    Seq((16, 4), (4, 2), (1, 1), (8, 8)).foreach { case (bands, rows) =>
      (0 until 400).foreach { _ =>
        val n = rnd.nextInt(bands * rows + rows + 1) // short, full and long
        val sig = Array.fill(n)(rnd.nextLong())
        val want = keys(Oracle.bandKeys(UnsafeArrayData.fromPrimitiveArray(sig), bands, rows))
        assert(Sketch.bandKeys(sig, bands, rows).toSeq == want, (bands, rows, n))
        assert(keys(Sketch.bandKeys(UnsafeArrayData.fromPrimitiveArray(sig), bands, rows)) == want)
        val upTo = rnd.nextInt(bands + 1)
        assert(Sketch.bandKeys(sig, upTo, rows).toSeq == want.take(upTo))
      }
      val none = keys(Oracle.bandKeys(null, bands, rows))
      assert(keys(Sketch.bandKeys(null: ArrayData, bands, rows)) == none)
      assert(Sketch.bandKeys(null: Array[Long], bands, rows).toSeq == none)
      assert(Sketch.bandKeys(new Array[Long](0), bands, rows).toSeq == none)
    }
  }

  test("band keys: an ArrayData signature with null elements equals the " +
      "old null-skipping form") {
    val rnd = new Random(11)
    (0 until 2000).foreach { _ =>
      val (bands, rows) = Seq((16, 4), (4, 3), (2, 1))(rnd.nextInt(3))
      val sig = withNulls(rnd, Array.fill(rnd.nextInt(bands * rows + 3))(rnd.nextLong()),
        Seq(0.0, 0.1, 0.5, 1.0)(rnd.nextInt(4)))
      assert(keys(Sketch.bandKeys(sig, bands, rows)) == keys(Oracle.bandKeys(sig, bands, rows)))
    }
  }

  test("match counts: the primitive form and the ArrayData form equal the " +
      "old form on ragged, empty and null-bearing signatures") {
    val rnd = new Random(13)
    (0 until 3000).foreach { _ =>
      val n = rnd.nextInt(70)
      val a = sigOf(rnd, n, 4)
      val b = sigOf(rnd, if (rnd.nextBoolean()) n else rnd.nextInt(70), 4)
      val want = Oracle.sigMatchCount(UnsafeArrayData.fromPrimitiveArray(a),
        UnsafeArrayData.fromPrimitiveArray(b))
      assert(Sketch.sigMatchCount(a, b) == want)
      assert(Sketch.sigMatchCount(UnsafeArrayData.fromPrimitiveArray(a),
        UnsafeArrayData.fromPrimitiveArray(b)) == want)
      val an = withNulls(rnd, a, 0.2)
      val bn = withNulls(rnd, b, if (rnd.nextBoolean()) 0.0 else 0.3)
      assert(Sketch.sigMatchCount(an, bn) == Oracle.sigMatchCount(an, bn))
      assert(Sketch.sigMatchCount(bn, an) == Oracle.sigMatchCount(bn, an))
    }
  }

  /** A random bucket: repeated ids, some null signatures, signatures
    * over few values so members share lower bands. */
  private def bucket(rnd: Random, size: Int, numHashes: Int): Seq[LshMember] =
    Seq.fill(size)(LshMember(rnd.nextInt(size + 2).toLong - 1,
      if (rnd.nextInt(8) == 0) null else sigOf(rnd, numHashes, 3)))

  /** A random over-cap set among the members' (band, key) buckets, with
    * a few keys no member has. */
  private def overCapOf(rnd: Random, ms: Seq[LshMember], bands: Int,
      rows: Int): Set[(Int, Long)] = {
    val all = ms.flatMap(m => Sketch.bandKeys(m.sig, bands, rows).zipWithIndex
      .map { case (k, b) => (b, k) }).distinct
    if (rnd.nextInt(4) == 0) Set.empty
    else (all.filter(_ => rnd.nextInt(3) == 0) ++
      Seq.fill(2)((rnd.nextInt(bands), rnd.nextLong()))).toSet
  }

  test("lshBucketPairs equals the old iterator kernel, pairs in order, on " +
      "random buckets with repeated ids, null signatures and over-cap sets") {
    val rnd = new Random(17)
    var emitted = 0
    (0 until 1500).foreach { _ =>
      val (bands, rows) = Seq((4, 2), (8, 1), (16, 4))(rnd.nextInt(3))
      val ms = bucket(rnd, rnd.nextInt(12), bands * rows)
      val overCap = overCapOf(rnd, ms, bands, rows)
      val band = rnd.nextInt(bands)
      val maxBucket = Seq(1L, 3L, 8L, 1000L)(rnd.nextInt(4))
      val got = Dedup.lshBucketPairs(band, ms.iterator, maxBucket, rows, overCap).toList
      val want = Oracle.lshBucketPairs(band, ms.iterator, maxBucket, bands, rows, overCap).toList
      assert(got == want, (band, maxBucket, ms.map(_.id), overCap))
      emitted += got.size
    }
    assert(emitted > 1000, emitted)
  }

  test("lshStarPairs equals the old iterator kernel on random id-ordered " +
      "groups with repeated keeper ids and over-cap sets") {
    val rnd = new Random(19)
    var emitted = 0
    (0 until 1500).foreach { _ =>
      val (bands, rows) = Seq((4, 2), (8, 1), (16, 4))(rnd.nextInt(3))
      val sig = if (rnd.nextInt(10) == 0) null else sigOf(rnd, bands * rows, 3)
      val ms = bucket(rnd, rnd.nextInt(10), bands * rows).sortBy(_.id)
        .map(m => if (rnd.nextInt(3) == 0) m else m.copy(sig = sig))
      val overCap = overCapOf(rnd, ms, bands, rows)
      val got = Dedup.lshStarPairs(ms.iterator, bands, rows, overCap).toList
      val want = Oracle.lshStarPairs(ms.iterator, bands, rows, overCap).toList
      assert(got == want, (ms.map(_.id), overCap))
      emitted += got.size
    }
    assert(emitted > 1000, emitted)
  }

  private def sorted(ps: Seq[MemberPair]): Seq[MemberPair] =
    ps.sortBy(p => (p.doc_id_a, p.v_a, p.doc_id_b, p.v_b))

  private val extremeIds = Array(Long.MinValue, Long.MaxValue,
    Long.MinValue + 1, Long.MaxValue - 1, 0L, -1L)

  /** A random capped bucket: ids over a small range around zero (so
    * they repeat and go negative) and the extremes, payloads that name
    * their member, and each id or payload null with probability
    * `pNull`. */
  private def members(rnd: Random, size: Int, pNull: Double): Seq[BucketMember] =
    Seq.tabulate(size) { k =>
      val id: java.lang.Long =
        if (rnd.nextDouble() < pNull) null
        else if (rnd.nextInt(6) == 0) extremeIds(rnd.nextInt(extremeIds.length))
        else rnd.nextInt(size + 2).toLong - size / 2
      val v: java.lang.Long =
        if (rnd.nextDouble() < pNull) null else 1000L * k + rnd.nextInt(1000)
      BucketMember(id, v)
    }

  test("bucketPairs equals the nested-loop oracle on random buckets with " +
      "repeated, negative and extreme ids and null ids and payloads") {
    val rnd = new Random(29)
    var emitted = 0
    (0 until 3000).foreach { _ =>
      val ms = members(rnd, rnd.nextInt(14), Seq(0.0, 0.1, 0.3)(rnd.nextInt(3)))
      val live = ms.count(m => m.id != null && m.v != null)
      // caps around the live size, so buckets at, just over and just
      // under the cap all come up
      val cap = math.max(1L, live + rnd.nextInt(5) - 2L)
      val got = Dedup.bucketPairs(ms.iterator, cap).toList
      val want = Oracle.bucketPairs(ms, cap)
      assert(sorted(got) == sorted(want), (cap, ms))
      assert(got.forall(p => p.doc_id_a < p.doc_id_b))
      emitted += got.size
    }
    assert(emitted > 5000, emitted)
  }

  test("bucketPairs at the cap boundary: cap members pair, cap + 1 and " +
      "fewer than 2 emit nothing, and null members do not count") {
    val L = (x: Long) => java.lang.Long.valueOf(x)
    val five = (1L to 5L).map(i => BucketMember(L(i), L(10 * i)))
    val nulls = Seq(BucketMember(null, L(1)), BucketMember(L(9), null),
      BucketMember(null, null))
    assert(Dedup.bucketPairs(five.iterator, 5L).size == 10)
    assert(Dedup.bucketPairs(five.iterator, 4L).isEmpty)
    // nulls interleaved with the members: still 5 usable under cap 5
    val mixed = five.take(2) ++ nulls ++ five.drop(2) ++ nulls
    assert(sorted(Dedup.bucketPairs(mixed.iterator, 5L).toList) ==
      sorted(Oracle.bucketPairs(five, 5L)))
    assert(Dedup.bucketPairs((five :+ BucketMember(L(6), L(60))).iterator, 5L).isEmpty)
    assert(Dedup.bucketPairs((five.take(1) ++ nulls).iterator, 5L).isEmpty)
    assert(Dedup.bucketPairs(Iterator.empty, 5L).isEmpty)
    // equal ids never pair; a repeated id pairs once per member
    val rep = Seq(BucketMember(L(3), L(1)), BucketMember(L(3), L(2)),
      BucketMember(L(4), L(3)))
    assert(sorted(Dedup.bucketPairs(rep.iterator, 5L).toList) ==
      Seq(MemberPair(3L, 1L, 4L, 3L), MemberPair(3L, 2L, 4L, 3L)))
  }

  test("bucketPairs reads at most cap + 1 members: a 10^4-member bucket " +
      "under cap 5 pulls 6 and emits nothing") {
    var pulled = 0
    val big = Iterator.range(0, 10000).map { i =>
      pulled += 1
      BucketMember(java.lang.Long.valueOf(i.toLong), java.lang.Long.valueOf(0L))
    }
    assert(Dedup.bucketPairs(big, 5L).isEmpty)
    assert(pulled == 6, pulled)
  }

  test("componentLabels equals the old boxed union-find, row order " +
      "included, on random graphs with self-loops, duplicate edges and " +
      "negative and extreme ids") {
    val rnd = new Random(23)
    val extremes = Array(Long.MinValue, Long.MaxValue, Long.MinValue + 1,
      Long.MaxValue - 1, 0L, -1L)
    (0 until 500).foreach { _ =>
      val nodes = rnd.nextInt(40) + 1
      val ids = Array.fill(nodes)(
        if (rnd.nextInt(5) == 0) extremes(rnd.nextInt(extremes.length))
        else rnd.nextInt(2 * nodes + 1).toLong - nodes)
      val pairs = Array.fill(rnd.nextInt(3 * nodes)) {
        val a = ids(rnd.nextInt(nodes))
        (a, if (rnd.nextInt(6) == 0) a else ids(rnd.nextInt(nodes)))
      }
      val withDups = pairs ++ pairs.filter(_ => rnd.nextInt(4) == 0).map(_.swap)
      val (ns, cs) = Dedup.componentLabels(withDups.map(_._1), withDups.map(_._2))
      assert(ns.toSeq.zip(cs.toSeq) == Oracle.components(withDups), withDups.toSeq)
    }
    val (ns, cs) = Dedup.componentLabels(Array.empty[Long], Array.empty[Long])
    assert(ns.isEmpty && cs.isEmpty)
  }
}
