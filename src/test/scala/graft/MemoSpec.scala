package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{AnnIndex, HeldRows, Memo, TableStore}

/** The process-wide memo type ([[Memo]]) and the held row kinds built on
  * it ([[HeldRows]]), with no Spark session: least-recently-used order,
  * the entry cap and the weight budget, release exactly once whatever
  * drops an entry, prefix invalidation, the per-kind row budgets, and the
  * inventory of memos, pinned so a new memo shows up as a one-line diff
  * here. */
class MemoSpec extends AnyFunSuite {

  private val expected = Set(
    // metadata: parsed manifests and sharded pruning verdicts
    "manifest", "prune", "classify",
    // plan-time span facts
    "cpSpan", "diffSize", "diffByte",
    // derivative-registry snapshots and tail bags
    "registry",
    // rows held on the driver, one memo per kind
    "held.mask", "held.view", "held.index")

  test("Memo.all names every process-wide memo") {
    // a memo registers when the object that owns it initializes
    assert(TableStore.registryMemo != null && HeldRows.kinds.nonEmpty)
    val names = Memo.all.map(_.name).filterNot(_.startsWith("spec."))
    assert(names.size == names.toSet.size, names)
    assert(names.toSet == expected,
      s"added: ${names.toSet -- expected}, gone: ${expected -- names}")
  }

  /** A test memo of values that count their releases; not in the pin. */
  private final class Value(val w: Long) { var released = 0 }
  private def memo(maxEntries: Int, maxWeight: Long = Long.MaxValue,
      dropOnCommit: Boolean = false) =
    new Memo[Int, Value](s"spec.${System.nanoTime}", maxEntries, maxWeight,
      _.w, release = _.released += 1, dropOnCommit = dropOnCommit)

  test("LRU: a get renews an entry; the entry cap evicts the least recent") {
    val m = memo(3)
    (1 to 3).foreach(i => m.put("s", i, new Value(0)))
    assert(m.get("s", 1).isDefined)
    m.put("s", 4, new Value(0))
    assert(m.snapshot.map(_._1._2) == Seq(3, 1, 4) && m.evicted == 1)
    m.put("s", 5, new Value(0))
    assert(m.snapshot.map(_._1._2) == Seq(1, 4, 5) && m.evicted == 2)
    assert(m.get("s", 2).isEmpty && m.get("t", 1).isEmpty)
  }

  test("weight budget: puts evict until they fit; one over budget is refused") {
    val m = memo(100, maxWeight = 10)
    (1 to 5).foreach(i => m.put("s", i, new Value(2)))
    assert(m.weight == 10)
    assert(m.get("s", 1).isDefined)
    assert(m.put("s", 6, new Value(5)))
    // 2, 3 and 4 leave (least recent first); 1 was renewed by the get
    assert(m.snapshot.map(_._1._2) == Seq(5, 1, 6) && m.weight == 9)
    val big = new Value(11)
    assert(!m.put("s", 7, big))
    assert(m.get("s", 7).isEmpty && m.weight == 9 && m.size == 3)
    assert(big.released == 0, "a refused value was never held")
  }

  test("release runs once on evict, replace, invalidate, commit-drop, clear") {
    val m = memo(2, dropOnCommit = true)
    val evicted = new Value(0)
    m.put("/w/a", 1, evicted)
    m.put("/w/a", 2, new Value(0))
    m.put("/w/a", 3, new Value(0))
    assert(evicted.released == 1)
    val replaced = m.get("/w/a", 2).get
    m.put("/w/a", 2, new Value(0))
    assert(replaced.released == 1)
    // invalidation under the store key
    val under = m.get("/w/a", 3).get
    Memo.invalidate("/w/a")
    assert(under.released == 1 && m.size == 0)
    Memo.invalidate("/w/a")
    assert(under.released == 1)
    // a commit to a nested store drops the ancestor's entries
    val ancestor = new Value(0)
    val other = new Value(0)
    m.put("/w/b", 1, ancestor)
    m.put("/w/c", 1, other)
    Memo.committed("/w/b/index/x")
    assert(ancestor.released == 1 && other.released == 0)
    Memo.committed("/w/b/index/x")
    assert(ancestor.released == 1)
    // a memo that does not follow commits keeps its entries
    val plain = memo(2)
    val kept = new Value(0)
    plain.put("/w/b", 1, kept)
    Memo.committed("/w/b")
    assert(kept.released == 0 && plain.size == 1)
    m.clear(); plain.clear()
    assert(other.released == 1 && kept.released == 1 && m.size == 0)
    m.clear()
    assert(other.released == 1)
  }

  test("prefix invalidation stops at path, branch and epoch separators") {
    val m = memo(16)
    val keys = Seq("/w/t", "/w/t2", "/w/t#b", "/w/t@e", "/w/t/index/x",
      "/w/t2@e")
    keys.foreach(k => m.put(k, 1, new Value(0)))
    Memo.invalidate("/w/t")
    assert(m.snapshot.map(_._1._1).toSet == Set("/w/t2", "/w/t2@e"))
    m.clear()
  }

  private val attr = Seq(AttributeReference("x", LongType)())
  private def held(n: Long) = new HeldRows.Held(
    LocalRelation(attr, Seq.fill(n.toInt)(InternalRow(1L))))

  test("held rows: a 64,000-row index and a 200,000-row mask both stay held") {
    val store = "/memo-spec/mix@-"
    val index = HeldRows.kinds("index")
    val mask = HeldRows.kinds("mask")
    try {
      var indexLoads = 0
      var maskLoads = 0
      (1 to 5).foreach { _ =>
        if (index.get(store, "1").isEmpty) {
          indexLoads += 1
          index.put(store, "1", held(AnnIndex.HeldMaxRows))
        }
        if (mask.get(store, "eq").isEmpty) {
          maskLoads += 1
          mask.put(store, "eq", held(200000))
        }
      }
      assert(indexLoads == 1 && maskLoads == 1,
        s"$indexLoads index loads, $maskLoads mask loads: ${HeldRows.stats}")
      assert(index.get(store, "1").isDefined && mask.get(store, "eq").isDefined)
    } finally Memo.invalidate("/memo-spec")
  }

  test("held rows, mask kind: a touched entry survives overflow; rows evict " +
      "LRU") {
    val store = "/memo-spec/lru@-"
    val mask = HeldRows.kinds("mask")
    def key(i: Int) = i.toString
    def has(i: Int) = mask.snapshot.exists(_._1 == (store, key(i)))
    try {
      mask.clear()
      (1 to 64).foreach(i => mask.put(store, key(i), held(1)))
      assert(mask.get(store, key(1)).isDefined)
      mask.put(store, key(65), held(1))
      assert(mask.size == 64 && has(1) && !has(2))
      // rows past the budget evict least recent first until the put fits
      mask.put(store, key(66), held(HeldRows.MaxRows - 30))
      assert(mask.weight <= HeldRows.MaxRows)
      assert(Seq(1, 37, 64, 65, 66).forall(has) &&
        (3 to 36).forall(i => !has(i)), HeldRows.stats)
    } finally Memo.invalidate("/memo-spec")
  }

  test("held rows, view kind: held rows never exceed the view row budget") {
    val view = HeldRows.kinds("view")
    val budget = HeldRows.MaxRows
    def store(i: Int) = s"/memo-spec/budget/$i@-"
    def has(i: Int) = view.snapshot.exists(_._1 == (store(i), "1"))
    // each kind has its own budget: rows another kind holds neither count
    // against the view kind nor leave when it fills
    val mask = HeldRows.kinds("mask")
    try {
      mask.put(store(0), "m", held(100))
      view.put(store(1), "1", held(budget - 10))
      assert(view.weight <= budget && has(1))
      view.put(store(2), "1", held(20))
      assert(view.weight <= budget && has(2) && !has(1))
      assert(!view.put(store(3), "1", held(budget + 1)))
      assert(view.weight <= budget && !has(3))
      (4 to 80).foreach(i => view.put(store(i), "1", held(1)))
      assert(view.size == 64 && view.weight <= budget)
      assert(mask.get(store(0), "m").isDefined)
      // a newer version of one view drops its older held versions
      view.put(store(80), "2", held(1))
      assert(!has(80) && view.get(store(80), "2").isDefined)
    } finally Memo.invalidate("/memo-spec")
  }
}
