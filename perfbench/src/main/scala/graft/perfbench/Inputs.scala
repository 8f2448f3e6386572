package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The benchmark's inputs. Both workloads feed the sf0.1 `documents` table,
  * kept verbatim under `perfbench/data/sf0.1/`, to the library's own
  * generators (`ScalingBench.replicatedDocs`,
  * `ScalingBench.dedupStressCorpus`, `SyntheticCorpus.fromDocuments`); this
  * file only makes the seeded parts.
  */
object Inputs {

  /** A seeded bijection of [0, m) onto itself, d -> (a*d + b) mod m with
    * gcd(a, m) = 1. Applied to the generated doc_ids it changes which text
    * and which id-derived spans go together, never how many ids there are.
    */
  final case class Bijection(a: Long, b: Long, m: Long) {
    def apply(id: Column): Column = pmod(id * lit(a) + lit(b), lit(m))
  }

  object Bijection {
    def apply(seed: Long, m: Long): Bijection = {
      @annotation.tailrec def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      val rnd = new scala.util.Random(seed)
      val a = Iterator.continually(1L + (rnd.nextLong() >>> 1) % (m - 1))
        .find(gcd(_, m) == 1).get
      Bijection(a, (rnd.nextLong() >>> 1) % m, m)
    }
  }

  def permuted(docs: DataFrame, bij: Bijection): DataFrame =
    docs.withColumn("doc_id", bij(col("doc_id")))

  /** Seeded, content-independent part of a doc id in [0, 1000). */
  def part(seed: Long): Column = pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000))
}
