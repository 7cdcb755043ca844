package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}

import scala.collection.mutable

/** SplitMix64: a fully specified stream, so one seed yields the same numbers
  * on every JVM. Gaussians use Box-Muller on it (never the JDK's sampler,
  * whose algorithm is not pinned across releases). */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def chance(p: Double): Boolean = nextDouble() < p
  def gaussian(): Double = {
    val u1 = 1.0 - nextDouble() // (0, 1]: log is finite
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * nextDouble())
  }
}

object Rng {
  /** Independent stream `stream` of a workload seed. */
  def apply(seed: Long, stream: Long): Rng =
    new Rng(new Rng(seed * 0x632be59bd9b4e019L + stream).nextLong())
}

/** One stored row: the vector plus its string metadata. Every row carries a
  * unique `uid`, which is how answers are matched against the model. */
final case class Entry(vec: Array[Float], meta: Map[String, String]) {
  def uid: String = meta("uid")
}

/** One request a client sends; `cls` is its op class and `store` the
  * store it addresses. */
sealed trait Req { def cls: String; def store: String }
object Req {
  val Classes: Seq[String] = Seq("get_sim_n", "get_sim_n_filtered",
    "get_sim_n_linear", "get_pred", "get_key", "set", "del_key", "del_pred",
    "upsert")
  /** The classes every workload sends: their timings are the end-to-end
    * latencies and the per-layer record. */
  val Shared: Seq[String] = Seq("get_sim_n", "get_key", "set", "del_key")
  def isRead(cls: String): Boolean = cls.startsWith("get_")

  /** Indexed GetSimN (the HNSW algorithm), optionally with `key = value`. */
  final case class SimN(store: String, q: Array[Float],
      filter: Option[(String, String)]) extends Req {
    def cls: String = if (filter.isEmpty) "get_sim_n" else "get_sim_n_filtered"
  }
  final case class Linear(store: String, q: Array[Float]) extends Req {
    def cls = "get_sim_n_linear"
  }
  final case class Pred(store: String, key: String, value: String) extends Req {
    def cls = "get_pred"
  }
  final case class Key(store: String, keys: Seq[Array[Float]]) extends Req {
    def cls = "get_key"
  }
  /** GetKey on keys chosen when the request is sent: `picks` in [0, 1)
    * index the acknowledged-key list at that moment (read-your-writes). */
  final case class KeyPick(store: String, picks: Seq[Double]) extends Req {
    def cls = "get_key"
  }
  final case class Put(store: String, rows: Seq[Entry]) extends Req { def cls = "set" }
  final case class DelKeys(store: String, keys: Seq[Array[Float]]) extends Req {
    def cls = "del_key"
  }
  final case class DelPred(store: String, key: String, value: String) extends Req {
    def cls = "del_pred"
  }
  final case class Upsert(store: String, uid: String, meta: Map[String, String])
      extends Req { def cls = "upsert" }
  /** One DSL statement; `op` is the logical request the script renders. */
  final case class Dsl(store: String, script: String, cls: String, op: DslOp) extends Req
}

/** Sizes of each workload. Chosen so that a run fits the benchmark's
  * per-run budget on a 4-core machine (README.md). */
object Sizes {
  val Dim = 128
  val Clusters = 64
  val KnnRows = 6000
  val WriteRows = 2000
  val SideRows = 200
  val K = 10
}

/** A Gaussian mixture of `Sizes.Clusters` centres; rows and queries are
  * drawn around them, queries Zipf-skewed over the centres. */
final class Mixture(seed: Long, dim: Int) {
  private val rng = Rng(seed, 1)
  val centres: Array[Array[Double]] =
    Array.fill(Sizes.Clusters)(Array.fill(dim)(rng.gaussian()))
  private val spread = 0.35
  // cumulative Zipf(1.1) weights over cluster ranks
  private val zipf: Array[Double] = {
    val w = (1 to Sizes.Clusters).map(r => 1.0 / math.pow(r.toDouble, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def point(r: Rng, cluster: Int): Array[Float] = {
    val c = centres(cluster)
    Array.tabulate(dim)(i => (c(i) + spread * r.gaussian()).toFloat)
  }
  def uniformPoint(r: Rng): Array[Float] = point(r, r.nextInt(Sizes.Clusters))
  def zipfPoint(r: Rng): Array[Float] = {
    val u = r.nextDouble()
    val c = zipf.indexWhere(_ >= u)
    point(r, if (c < 0) Sizes.Clusters - 1 else c)
  }
}

/** Everything one workload sends, drawn from its seed. The engine receives
  * only these values, never the seed. */
sealed trait Inputs {
  /** Initial rows per store. */
  def stores: Seq[(String, Seq[Entry])]
  /** Request stream of client `c` (0-based); unbounded, deterministic. */
  def requests(c: Int): Iterator[Req]
  def clients: Int
  /** DSL scripts run at set-up, in order. */
  def scripts: Seq[String] = Nil
  /** Canonical bytes of the set-up rows and the first `n` requests of every
    * client: equal seeds give equal bytes. */
  def bytes(n: Int): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val out = new DataOutputStream(bo)
    def str(x: String): Unit = {
      val b = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
    }
    def vec(v: Array[Float]): Unit = { out.writeInt(v.length); v.foreach(out.writeFloat) }
    def meta(m: Map[String, String]): Unit = {
      out.writeInt(m.size)
      m.toSeq.sorted.foreach { case (k, v) => str(k); str(v) }
    }
    def entry(e: Entry): Unit = { vec(e.vec); meta(e.meta) }
    def req(r: Req): Unit = {
      str(r.cls)
      r match {
        case Req.SimN(s, q, f) =>
          str(s); vec(q); str(f.map(p => p._1 + "=" + p._2).getOrElse(""))
        case Req.Linear(s, q) => str(s); vec(q)
        case Req.Pred(s, k, v) => str(s); str(k); str(v)
        case Req.Key(s, ks) => str(s); ks.foreach(vec)
        case Req.KeyPick(s, ps) => str(s); ps.foreach(out.writeDouble)
        case Req.Put(s, rs) => str(s); rs.foreach(entry)
        case Req.DelKeys(s, ks) => str(s); ks.foreach(vec)
        case Req.DelPred(s, k, v) => str(s); str(k); str(v)
        case Req.Upsert(s, u, m) => str(s); str(u); meta(m)
        case Req.Dsl(s, script, _, _) => str(s); str(script)
      }
    }
    stores.foreach { case (name, rows) => str(name); rows.foreach(entry) }
    scripts.foreach(str)
    (0 until clients).foreach(c => requests(c).take(n).foreach(req))
    out.flush()
    bo.toByteArray
  }
}

/** An endless request stream that sends request classes in a fixed
  * repeating order; `make` draws each request's contents. */
object Cycle {
  def apply(order: Seq[String])(make: String => Req): Iterator[Req] =
    Iterator.continually(order).flatten.map(make)
}

/** Per request class, the next store in round-robin order: each class
  * visits every store in turn, whatever the other classes do. */
final class Turns(stores: Seq[String]) {
  private val turns = mutable.HashMap[String, Int]().withDefaultValue(0)
  def store(cls: String): String = {
    val t = turns(cls)
    turns(cls) = t + 1
    stores(t % stores.length)
  }
}

object Gen {
  def apply(workload: String, seed: Long): Inputs = workload match {
    case "knn-read"  => new KnnReadInputs(seed)
    case "write-mix" => new WriteMixInputs(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Workloads: Seq[String] = Seq("knn-read", "write-mix")

  /** Metadata of a read row: a unique uid, one of 100 groups and three
    * flags at 1 %, 10 % and 75 % selectivity. At `Sizes.KnnRows` the first
    * two accept at most 4096 rows (the exact arm of the filtered search)
    * and the third more (the graph arm). */
  def readMeta(r: Rng, uid: String): Map[String, String] = Map(
    "uid" -> uid,
    "grp" -> s"g${r.nextInt(100)}",
    "s1" -> (if (r.chance(0.01)) "y" else "n"),
    "s10" -> (if (r.chance(0.10)) "y" else "n"),
    "s75" -> (if (r.chance(0.75)) "y" else "n"))
}

/** knn-read: two in-memory indexed copies of one mixture (`hnsw` and
  * `hnsw_routed`) that no request mutates, so they stay in Spark's cache;
  * plus an AI side store that takes the client's DSL statements (SET,
  * DELKEY, UPSERT and GETSIMN), so the path through `dsl`, `ai` and
  * `engine` is timed while the indexed stores stay untouched. */
final class KnnReadInputs(seed: Long) extends Inputs {
  private val mix = new Mixture(seed, Sizes.Dim)
  val rows: Seq[Entry] = {
    val r = Rng(seed, 2)
    (0 until Sizes.KnnRows).map(i => Entry(mix.uniformPoint(r), Gen.readMeta(r, s"u$i")))
  }
  val side = new SideStore(seed)
  def stores: Seq[(String, Seq[Entry])] = Seq("kh" -> rows, "kr" -> rows)
  override def scripts: Seq[String] = side.scripts
  def clients = 1

  def requests(c: Int): Iterator[Req] = {
    val r = Rng(seed, 10 + c)
    val recent = mutable.ArrayBuffer[Array[Float]]()
    def query(): Array[Float] =
      if (recent.nonEmpty && r.chance(0.1)) recent(r.nextInt(recent.length))
      else {
        val q = mix.zipfPoint(r)
        if (recent.length < 64) recent += q else recent(r.nextInt(64)) = q
        q
      }
    val turns = new Turns(Seq("kh", "kr"))
    var filtered = 0
    val statements = side.statements(r)
    Cycle(KnnReadInputs.Cycle) {
      case "knn" => Req.SimN(turns.store("knn"), query(), None)
      case "flt" =>
        // every (store, selectivity) pair recurs: 2 stores x 3 keys
        val key = Seq("s1", "s10", "s75")(filtered % 3)
        filtered += 1
        Req.SimN(turns.store("flt"), query(), Some(key -> "y"))
      case "lin" => Req.Linear(turns.store("lin"), query())
      case "pred" => Req.Pred(turns.store("pred"), "grp", s"g${r.nextInt(100)}")
      case "key" =>
        // every GetKey asks for two distinct rows: a fixed size keeps the
        // seed's draws from moving the median
        val i = r.nextInt(rows.length)
        val j = (i + 1 + r.nextInt(rows.length - 1)) % rows.length
        Req.Key(turns.store("key"), Seq(rows(i).vec, rows(j).vec))
      case other => statements(other)
    }
  }
}

object KnnReadInputs {
  /** Request classes in the order the client sends them, repeated: per 24
    * requests, 8 indexed GetSimN, 3 filtered, 2 linear, 6 GetKey,
    * 1 GetPred, 1 DSL GETSIMN on the AI store and 3 DSL writes (SET,
    * UPSERT, DELKEY). These ratios are this benchmark's own choice, not
    * taken from a measured or published workload. A fixed interleaving keeps the mix of a short run the same
    * for every seed. Warm-up sends the first half, which warms every
    * class; the loop's first write round follows 12 reads later. */
  val Cycle: Seq[String] = Seq(
    "set", "ups", "del", "knn", "flt", "knn", "key", "lin", "knn", "key", "ai", "pred",
    "knn", "key", "flt", "knn", "key", "lin", "knn", "key", "flt", "knn", "key", "knn")
  val WarmupRequests: Int = Cycle.length / 2
}

/** One stored text of the AI side store, with its string metadata. The
  * text starts with the row's unique uid, so no two texts are equal. */
final case class Doc(text: String, meta: Map[String, String]) {
  def uid: String = meta("uid")
}

/** The side store: an AI store (mock `all-minilm-l6-v2`, `STOREORIGINAL`)
  * of seeded sentences, the DSL scripts that create and load it, and the
  * DSL statements a client sends to it. Every statement is in the AI
  * grammar, so it runs through `dsl`, `ai` (embedding) and `engine`. */
final class SideStore(seed: Long) {
  val store = "log"
  private def doc(r: Rng, uid: String): Doc = {
    val words = Seq.fill(6 + r.nextInt(6))(SideStore.Vocabulary(r.nextInt(SideStore.Vocabulary.length)))
    Doc((uid +: words).mkString(" "), Map("uid" -> uid, "grp" -> s"g${r.nextInt(10)}"))
  }
  val rows: Seq[Doc] = {
    val r = Rng(seed, 3)
    (0 until Sizes.SideRows).map(i => doc(r, s"l$i"))
  }

  /** CREATESTORE, then one SET loading every set-up row. */
  def scripts: Seq[String] = Seq(
    s"CREATESTORE $store QUERYMODEL ${SideStore.Model} INDEXMODEL ${SideStore.Model} " +
      "PREDICATES (uid, grp) STOREORIGINAL",
    SideStore.set(store, rows))

  /** Statements drawn from `r`: "set" gives a SET of 10 new texts, "del"
    * a DELKEY of the 2 oldest written texts, "ups" an UPSERT of a written
    * row's metadata, and "ai" a linear GETSIMN whose query is a set-up
    * text, which no statement deletes. The plan tracks the rows its own
    * statements leave live, so every delete and upsert names a live row. */
  def statements(r: Rng): String => Req = {
    val live = mutable.ArrayBuffer[Doc]()
    var next = 0
    val make: String => Req = {
      case "set" =>
        val batch = (0 until 10).map { _ => next += 1; doc(r, s"w$next") }
        live ++= batch
        Req.Dsl(store, SideStore.set(store, batch), "set", DslOp.Put(batch))
      case "del" =>
        val gone = live.take(2).toSeq
        live.remove(0, 2)
        Req.Dsl(store, gone.map(d => s"[${d.text}]").mkString("DELKEY (", ", ", s") IN $store"),
          "del_key", DslOp.Del(gone.map(_.text)))
      case "ups" =>
        val i = r.nextInt(live.length)
        val d = live(i)
        val meta = d.meta.updated("grp", s"g${r.nextInt(10)}")
        live(i) = d.copy(meta = meta)
        Req.Dsl(store, s"UPSERT (NONE, ${SideStore.meta(meta)}) WHERE (uid = ${d.uid}) IN $store " +
          "PREPROCESSACTION nopreprocessing", "upsert", DslOp.Upsert(d.uid, meta))
      case "ai" =>
        val d = rows(r.nextInt(rows.length))
        Req.Dsl(store, s"GETSIMN ${Sizes.K} WITH [${d.text}] USING cosinesimilarity IN $store",
          "get_sim_n_linear", DslOp.SelfMatch(d.text))
      case other => throw new IllegalArgumentException(s"no DSL statement for $other")
    }
    make
  }
}

object SideStore {
  val Model = "all-minilm-l6-v2"
  /** Words of the seeded sentences: letters only, so a text is a valid
    * DSL string literal. */
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "vector", "store", "query", "index", "graph", "layer", "shard", "cluster",
    "cosine", "metric", "recall", "nearest", "neighbour", "search", "filter",
    "predicate", "metadata", "embedding", "model", "token", "sentence", "text",
    "write", "read", "delete", "update", "batch", "stream", "cache", "disk",
    "memory", "latency", "spark", "task", "job", "stage", "driver", "executor",
    "partition", "parquet", "snapshot", "restart", "checkpoint", "lineage",
    "schema", "client", "server", "request")
  def meta(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k: $v" }.mkString("{", ", ", "}")
  def set(store: String, rows: Seq[Doc]): String =
    rows.map(d => s"([${d.text}], ${meta(d.meta)})")
      .mkString("SET (", ", ", s") IN $store PREPROCESSACTION nopreprocessing")
}

/** The write a DSL statement renders; the model grades the statement's
  * answer from it. */
sealed trait DslOp
object DslOp {
  final case class Put(rows: Seq[Doc]) extends DslOp
  final case class Del(texts: Seq[String]) extends DslOp
  final case class Upsert(uid: String, meta: Map[String, String]) extends DslOp
  /** A GETSIMN whose query is a stored text: the mock embedder must put
    * that text first, at similarity 1. */
  final case class SelfMatch(text: String) extends DslOp
}

/** write-mix: two persistent stores (`hnsw`, `hnsw_routed`). Client 0 is
  * the writer, round-robin over both stores; client 1 the reader. Rows are
  * either `keep` rows, which are never deleted (the reader looks them up),
  * or `churn` rows, which DelKey, DelPred and Upsert target. */
final class WriteMixInputs(seed: Long) extends Inputs {
  private val mix = new Mixture(seed, Sizes.Dim)
  val storeNames: Seq[String] = Seq("wh", "wr")
  private def churnMeta(uid: String, tag: String, ver: Int): Map[String, String] =
    Map("uid" -> uid, "ct" -> tag, "ver" -> s"v$ver")
  private def keepMeta(uid: String, ver: Int): Map[String, String] =
    Map("uid" -> uid, "ver" -> s"v$ver")

  private val initial: Map[String, Seq[Entry]] = storeNames.zipWithIndex.map {
    case (s, si) =>
      val r = Rng(seed, 2 + si)
      s -> (0 until Sizes.WriteRows).map { i =>
        val uid = s"$s-s$i"
        val meta = if (i % 5 == 0) churnMeta(uid, s"$s-c${i / 25}", 0) else keepMeta(uid, 0)
        Entry(mix.uniformPoint(r), meta)
      }
  }.toMap
  def stores: Seq[(String, Seq[Entry])] = storeNames.map(s => s -> initial(s))
  def clients = 2
  /** Queries for the post-loop recall check. */
  def probeQueries(n: Int): Seq[Array[Float]] = {
    val r = Rng(seed, 30)
    Seq.fill(n)(mix.zipfPoint(r))
  }
  def isKeep(e: Entry): Boolean = !e.meta.contains("ct")

  def requests(c: Int): Iterator[Req] = if (c == 0) writer() else reader()

  private def reader(): Iterator[Req] = {
    val r = Rng(seed, 20)
    val turns = new Turns(storeNames)
    Cycle(Seq("knn", "key")) { cls =>
      val s = turns.store(cls)
      if (cls == "knn") Req.SimN(s, mix.zipfPoint(r), None)
      else Req.KeyPick(s, Seq.fill(2)(r.nextDouble()))
    }
  }

  /** The writer's plan mirrors the live state its own earlier requests
    * leave behind, so every delete and upsert names a row that exists.
    * Classes cycle DelPred, Upsert, Set, DelKey, and each class alternates
    * between the stores, so every (store, class) pair recurs every eight
    * writes. Warm-up sends DelPred and Upsert on `wh`, so every loop opens
    * with a Set and a DelKey. */
  private def writer(): Iterator[Req] = {
    val r = Rng(seed, 10)
    final class Plan(rows: Seq[Entry]) {
      val keep = mutable.ArrayBuffer[Entry]() ++ rows.filter(isKeep)
      val churn = mutable.LinkedHashMap[String, Entry]() ++
        rows.filterNot(isKeep).map(e => e.uid -> e)
      var next = 0
      var batch = 0
    }
    val plans = storeNames.map(s => s -> new Plan(initial(s))).toMap
    val turns = new Turns(storeNames)
    Cycle(Seq("del_pred", "upsert", "set", "del_key")) { cls =>
      val s = turns.store(cls)
      val p = plans(s)
      cls match {
        case "set" =>
          val tag = s"$s-b${p.batch}"
          p.batch += 1
          val fresh = (0 until 7).map { i =>
            val uid = s"$s-w${p.next}"
            p.next += 1
            Entry(mix.uniformPoint(r), if (i < 4) keepMeta(uid, 0) else churnMeta(uid, tag, 0))
          }
          val resets = Seq.fill(3) {
            val old = p.keep(r.nextInt(p.keep.length))
            Entry(old.vec, keepMeta(old.uid, r.nextInt(1000) + 1))
          }.distinctBy(_.uid)
          fresh.foreach(e => if (isKeep(e)) p.keep += e else p.churn(e.uid) = e)
          Req.Put(s, if (r.chance(0.5)) fresh ++ resets else resets ++ fresh)
        case "del_key" =>
          val victims = p.churn.keys.take(1 + r.nextInt(2)).toSeq
          val keys = victims.map(p.churn(_).vec)
          victims.foreach(p.churn.remove)
          Req.DelKeys(s, keys)
        case "del_pred" =>
          val tag = p.churn.values.head.meta("ct")
          p.churn.filterInPlace((_, e) => e.meta("ct") != tag)
          Req.DelPred(s, "ct", tag)
        case _ =>
          val victim = p.churn.values.toSeq(r.nextInt(math.min(p.churn.size, 50)))
          val meta = victim.meta.updated("ver", s"v${r.nextInt(1000) + 1}")
          p.churn(victim.uid) = victim.copy(meta = meta)
          Req.Upsert(s, victim.uid, meta)
      }
    }
  }
}
