package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the driver checks a registered query's output. */
sealed trait Check

/** Hash-exact compare against this DuckDB SQL over the same parquet
  * tables. Conventions that keep the hashes stable:
  *  - identical column names on both sides;
  *  - additive float aggs go through DECIMAL (order-independent sums)
  *    and are cast to DOUBLE at the end (both engines produce the same
  *    IEEE double from the same exact decimal);
  *  - timestamps → DATE where the op is date-grained.
  */
final case class Oracle(sql: String) extends Check

/** No SQL can reproduce the output: it is recall-approximate,
  * hash-seeded, a float iteration or runtime-trained. The driver checks
  * that it has rows; each twin is an [[Oracle]] query that runs the same
  * code path at exact parameters (recall-saturating banding, exhaustive
  * probes, planted inputs) and carries the hash gate. */
final case class GatedBy(twins: String*) extends Check {
  require(twins.nonEmpty, "GatedBy names at least one oracle twin")
}

/** One registered query: its driver key, its build over a table dir,
  * and how its output is checked. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       check: Check)

/** Every registered query, one `Seq[Query]` per family. */
object Registry {

  val all: Seq[Query] = validated(
    RelationalQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      IndexQueries.queries ++ GraphQueries.queries)

  /** `qs` itself, or throws if a name is registered twice or a
    * [[GatedBy]] twin is not a registered [[Oracle]] query. */
  def validated(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, q) if q.size > 1 => n }
    require(dups.isEmpty, s"query registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    val oracles = qs.collect { case Query(n, _, Oracle(_)) => n }.toSet
    val orphans = for {
      Query(n, _, GatedBy(twins @ _*)) <- qs
      t <- twins if !oracles(t)
    } yield s"$n -> $t"
    require(orphans.isEmpty, s"GatedBy twin is not an oracle query: ${orphans.mkString(", ")}")
    qs
  }
}
