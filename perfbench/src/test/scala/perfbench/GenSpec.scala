package perfbench

import java.util.Arrays

import org.scalatest.funsuite.AnyFunSuite


class GenSpec extends AnyFunSuite {
  private val requests = 300

  Gen.Workloads.foreach { w =>
    test(s"$w: the same seed gives byte-identical inputs") {
      assert(Arrays.equals(Gen(w, 7).bytes(requests), Gen(w, 7).bytes(requests)))
    }
    test(s"$w: a different seed gives different inputs") {
      assert(!Arrays.equals(Gen(w, 7).bytes(requests), Gen(w, 8).bytes(requests)))
    }
  }

  test("knn-read filters reach both the exact and the graph arm of filtered search") {
    val model = StoreModel(new KnnReadInputs(3).rows)
    val cutover = graft.ann.AnnSearch.BruteForceCutover
    assert(model.count("s1", "y") <= cutover)
    assert(model.count("s10", "y") <= cutover)
    assert(model.count("s75", "y") > cutover)
  }

  test("the writer's plan only deletes and upserts rows that are live") {
    val in = new WriteMixInputs(5)
    var models = in.stores.map { case (s, rows) => s -> StoreModel(rows) }.toMap
    in.requests(0).take(400).foreach {
      case Req.Put(s, rows) => models += s -> models(s).set(rows)._1
      case Req.DelKeys(s, keys) =>
        val (m, n) = models(s).delKeys(keys)
        assert(n == keys.length); models += s -> m
      case Req.DelPred(s, k, v) =>
        val (m, n) = models(s).delWhere(k, v)
        assert(n > 0); models += s -> m
      case Req.Upsert(s, uid, meta) =>
        models += s -> models(s).upsert(uid, meta).getOrElse(fail(s"upsert of missing $uid"))
      case other => fail(s"unexpected writer request $other")
    }
  }

  test("write-mix: each client sends every (store, class) pair in every round") {
    val in = new WriteMixInputs(5)
    def pairs(c: Int, n: Int) = in.requests(c).take(n).map {
      case Req.SimN(s, _, _) => s -> "get_sim_n"
      case Req.KeyPick(s, _) => s -> "get_key"
      case Req.Put(s, _) => s -> "set"
      case Req.DelKeys(s, _) => s -> "del_key"
      case Req.DelPred(s, _, _) => s -> "del_pred"
      case Req.Upsert(s, _, _) => s -> "upsert"
      case other => fail(s"unexpected request $other")
    }.toSeq
    val writes = for (s <- in.storeNames; c <- Seq("set", "del_key", "del_pred", "upsert")) yield s -> c
    val reads = for (s <- in.storeNames; c <- Seq("get_sim_n", "get_key")) yield s -> c
    // the writer's 8-request round and the reader's 4-request round each
    // hold every pair once, from any starting point
    pairs(0, 64).sliding(8).foreach(w => assert(w.toSet == writes.toSet))
    pairs(1, 32).sliding(4).foreach(w => assert(w.toSet == reads.toSet))
  }

  test("knn-read: every read class reaches both indexed stores in one cycle") {
    val in = new KnnReadInputs(4)
    val reads = in.requests(0).take(KnnReadInputs.Cycle.length).collect {
      case r @ Req.SimN(s, _, _) => s -> r.cls
      case Req.Linear(s, _) => s -> "get_sim_n_linear"
      case Req.Key(s, _) => s -> "get_key"
    }.toSet
    for (s <- Seq("kh", "kr"); c <- Seq("get_sim_n", "get_sim_n_filtered", "get_sim_n_linear", "get_key"))
      assert(reads.contains(s -> c), s"$c never reaches $s")
  }

  test("side-store texts survive printing as DSL string literals") {
    val side = new KnnReadInputs(2).side
    val parsed = graft.dsl.DslParser.parseAi(SideStore.set(side.store, side.rows))
    val graft.dsl.Command.AiSet(_, entries, _, _, _) = parsed.head
    assert(entries.map(_._1) == side.rows.map(d => graft.types.MetadataValue.RawString(d.text)))
    assert(entries.map(_._2("uid")) == side.rows.map(d => graft.types.MetadataValue.RawString(d.uid)))
  }
}
