package perfbench

import java.nio.file.Paths

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

import graft.Registry.Entry
import graft.SparkEntry

/** A query mix: registry entries run one at a time, in a seeded order per
  * pass. One operation is an entry's construction (`Entry.q`, which may
  * launch jobs of its own) plus its action, the noop sink `graft.Bench`
  * uses. */
final class Mix(names: Seq[String], override val minPasses: Int = 1) extends Workload {
  val entries: Seq[Entry] = names.map(n => SparkEntry.all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"no registry entry $n")))

  /** The untimed warm-up entry of every set-up, as in `graft.Bench`. */
  private val warmUp = SparkEntry.all.find(_.name == "b17_agg_hash").get

  def setUp(ctx: Ctx): Unit =
    warmUp.q(ctx.spark, ctx.opts.data).write.mode("overwrite").format("noop").save()

  /** Every entry's result against the digest stored with the benchmark;
    * an entry stored without a digest is checked on its row count only. */
  def check(ctx: Ctx): (Int, Int) = {
    val expected = new ObjectMapper().readTree(Paths.get(ctx.opts.expected).toFile)
    val failed = entries.count { e =>
      val want = expected.get(e.name)
      val (rows, sha) = Digest.of(e.q(ctx.spark, ctx.opts.data))
      val bad = want == null || want.get("rows").asLong() != rows ||
        (want.has("sha256") && want.get("sha256").asText() != sha)
      if (bad) System.err.println(s"[perfbench] ${e.name}: $rows rows, digest $sha, expected $want")
      bad
    }
    (entries.size, failed)
  }

  def pass(ctx: Ctx, passNo: Int): Seq[OpResult] =
    new Random(ctx.opts.seed * 1000003L + passNo).shuffle(entries).map(run(ctx, _))

  private def run(ctx: Ctx, e: Entry): OpResult = {
    val module = Mix.module(e)
    val op = ctx.spanId()
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    val (ok, constructS, actionS) = try {
      val (df, c) = ctx.call(module, "construct", op)(e.q(ctx.spark, ctx.opts.data))
      val (_, a) = ctx.call(module, "action", op)(
        df.write.mode("overwrite").format("noop").save())
      (true, c, a)
    } catch {
      case t: Exception =>
        System.err.println(s"[perfbench] ${e.name}: $t")
        (false, 0.0, 0.0)
    }
    val t1 = System.nanoTime()
    ctx.opSpan(op, e.name, op, t0, t1)
    ctx.unmetered(HostSpeed.probe(ctx.opts.cpus))
    OpResult(module, e.name, (t1 - t0) / 1e9, ok, 1L,
      Map("construct_s" -> constructS, "action_s" -> actionS,
        "jvm.gc_s" -> (Jvm.gcSeconds() - gc0)) ++ ctx.leftovers())
  }
}

object Mix {
  /** query_mix: relational entries whose time is planning plus one action
    * (`operators`), a streaming batch twin, and `llm` entries of both kinds:
    * b43 builds its MinHash candidates in eager jobs during construction,
    * b122 and b245 spend their action in custom expressions (`functions`). */
  val Query: Seq[String] = Seq("b17_agg_hash", "b06_sql_multijoin",
    "b12_join_broadcast", "b13_join_sortmerge", "b16_join_asof", "b200_spatial_radius_join",
    "b195_event_transitions", "b202_twap_user", "b208_event_regex_match",
    "b220_duplicate_txn_audit", "b49_window_sliding_batch",
    "b43_dedup_minhash", "b122_bpe_tokenize", "b245_repetition_filter")

  /** The module an entry is registered from: `operators`, `llm` or `streaming`. */
  def module(e: Entry): String = {
    val cls = e.q.getClass.getName
    Seq("operators", "llm", "streaming").find(m => cls.startsWith(s"graft.$m."))
      .getOrElse("operators")
  }
}
