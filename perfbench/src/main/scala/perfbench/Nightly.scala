package perfbench

/** `nightly`: the catalog's night as it runs, both halves in one round.
  * First the `catalog_load` night loads the two providers, then the
  * `dedup_nightly` night folds the day's documents into the near-dup
  * store and compacts it. Each half is one operation (`load<n>`,
  * `fold<n>`), timed and checked exactly as in its own workload.
  *
  * Set-up builds both halves' state at once, each in its own thread;
  * building it runs every path of a night once (see the halves).
  */
object Nightly extends Workload {
  val name = "nightly"
  val maxRounds: Int = math.min(CatalogLoad.maxRounds, DedupNightly.maxRounds)
  val warmUpRounds = 0
  /** A night is one sample of each half; two halve what a burst of
    * host load during one of them does to the median.
    */
  override val minRounds = 2

  def prepare(ctx: Ctx): Prepared = {
    def build(w: Workload): Prepared = {
      val (p, s) = Workload.timed(w.prepare(ctx))
      System.err.println(f"[perfbench] ${w.name}: prepare $s%.2f s")
      p
    }
    val (load, dedup) = Workload.both(build(CatalogLoad), build(DedupNightly))
    new Prepared {
      def round(i: Int, tracer: Tracer): Round = {
        val a = load.round(i, tracer)
        val b = dedup.round(i, tracer)
        Round(a.ops ++ b.ops, a.seconds + b.seconds, a.rows + b.rows,
          Workload.sum(a.counts, b.counts))
      }

      def check(): Checked = {
        val (a, b) = Workload.both(load.check(), dedup.check())
        a ++ b
      }
    }
  }
}
