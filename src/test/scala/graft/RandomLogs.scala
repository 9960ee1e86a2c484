package graft

import graft.model.SnapshotMeta
import graft.ops.Decide

/** Seeded snapshot logs for the decision properties, built to hit the
  * decision's edge cases: several REPLACEs per table, an append tying each
  * REPLACE's timestamp (not counted: only strictly newer commits are),
  * tables whose only commit is a REPLACE, timestamps on both sides of the
  * 3 h threshold, and rows shuffled out of snapshot order. */
object RandomLogs {
  private val sixHours = 6 * 3600000

  def apply(seed: Int, tables: Int = 30): Seq[SnapshotMeta] = {
    val rnd = new scala.util.Random(seed)
    var id = 0L
    def snap(t: Long, ts: Long, op: String): SnapshotMeta = {
      id += 1
      SnapshotMeta(t, id, ts, op)
    }
    val rows = (0L until tables.toLong).flatMap { t =>
      if (t % 6 == 0) Seq(snap(t, Decide.NowMs - rnd.nextInt(sixHours), "replace"))
      else {
        val commits = (1 to rnd.nextInt(25)).map(_ =>
          snap(t, Decide.NowMs - rnd.nextInt(sixHours),
            if (rnd.nextInt(6) == 0) "replace" else "append"))
        commits ++ commits.filter(_.operation == "replace")
          .map(r => snap(t, r.tsMillis, "append"))
      }
    }
    rnd.shuffle(rows)
  }
}
