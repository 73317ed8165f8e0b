package perfbench

/** How a query's result leaves the engine: the noop sink (runs the whole
  * plan, writes nothing) or a parquet write into the run's output dir. */
sealed trait Sink
case object Noop extends Sink
case object Parquet extends Sink

/** One registered query as a workload runs it. `banded` queries run on the
  * session that has `graft.sim.exact=false` (the banded-LSH scale route). */
final case class Op(name: String, sink: Sink = Noop, banded: Boolean = false)

object Workloads {
  /** Each workload's queries; gen.py generates its data under the same name. */
  val all: Map[String, Seq[Op]] = Map(
    // One-row-group sf0.1 tables: walls are construction, planning and
    // per-job fixed cost (the MRBench regime). The banded n-gram Jaccard
    // runs six jobs while its DataFrame is built, on its own session; the
    // sliding-window stream runs to memory, committing state, while its
    // DataFrame is built.
    "fixture_small" ->
      Seq(Op("q1_pricing_summary"), Op("dedup_ngram_jaccard", banded = true),
        Op("stream_sliding")),
    // Multi-file sf0.2 tables: the TeraSort stand-in scans lineitem over
    // every core, range-shuffles it and writes it as parquet, and the
    // per-order aggregate hash-shuffles it, so executor CPU, shuffle and
    // the io read and write paths dominate (the GridMix/TeraSort regime).
    "rows" -> Seq(Op("rel_global_sort", Parquet), Op("agg_sum_by_key")))
}
