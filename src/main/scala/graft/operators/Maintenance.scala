package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Layout planning for large parquet datasets: the Z-order key
  * ([[zValue]], clustering on several dimensions at once) and the
  * rendezvous reshard audit ([[reshardAudit]]).
  */
object Maintenance {

  /** Morton (Z-order) code: interleave the low `bits` bits of each input
    * column — output bit `i·n + j` is bit `i` of column `j`. Inputs must
    * already be NON-NEGATIVE ints below 2^bits (callers bucketize first,
    * e.g. `col % 256` or a rank bucket — same contract as Delta/Iceberg
    * Z-order, which range-bucketize each dimension before interleaving).
    *
    * Pure bit arithmetic over codegen'd built-ins (shiftright/and/
    * shiftleft/or) — a narrow map, cross-engine exact (the DuckDB mirror
    * is [[zValueSql]] with identical operator structure).
    */
  def zValue(bits: Int, cols: Column*): Column = {
    val n = cols.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** DuckDB mirror of [[zValue]]: same interleave over SQL expressions
    * (parenthesize inputs; BIGINT bit ops on both engines).
    */
  def zValueSql(bits: Int, cols: Seq[String]): String = {
    val n = cols.size
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield s"((($c >> $i) & 1) << ${i * n + j})").mkString(" | ")
  }

  /** Rendezvous (highest-random-weight) reshard audit — the question a
    * 100-TB layout owner asks BEFORE adding capacity: how much data
    * moves when the shard count goes nOld → nNew? Each doc's shard is
    * argmax over shards of a deterministic per-(doc, shard) mix (ties
    * to the smaller shard — they cannot occur with distinct hashes but
    * the rule is pinned anyway); rendezvous hashing's defining property
    * is that growing the shard set only ever moves a doc TO a new
    * shard (the argmax over a superset either stands or is won by a
    * new entrant) — so the expected moved fraction is (nNew − nOld)/
    * nNew, not the ~100% a mod-N scheme reshuffles. The audit emits
    * the (shard_old, shard_new) transition matrix with the moved flag;
    * off-diagonal rows landing anywhere but a new shard would falsify
    * the implementation (spec-pinned).
    *
    * Scale: one narrow map (the argmax folds over nNew literal mix
    * columns — no explode, no window, zero shuffle) + one grouped
    * count to ≤ nOld·nNew rows.
    */
  def reshardAudit(docs: DataFrame, nOld: Int = 8, nNew: Int = 9): DataFrame = {
    require(nNew > nOld, "reshardAudit audits a grow step")
    val P = graft.functions.TextFunctions.P
    // argmax fold over the shard list: the accumulator is a lambda
    // VARIABLE (not an expanded subtree), so the plan stays O(1) per
    // shard instead of the 3^n blow-up an unrolled when-chain pays
    def argmax(n: Int): Column =
      aggregate(
        sequence(lit(0L), lit((n - 1).toLong)),
        struct(lit(-1L).as("h"), lit(0L).as("s")),
        (acc, s) => {
          // two rounds with a squaring between them: a purely affine
          // h(s) = (a + s·c) mod P makes the argmax a boundary artifact
          // (measured: 3 shards hoarding 6× their share); the square
          // breaks linearity in s and the loads even out
          val t = ((col("doc_id") % P) * 31 + s) * 2654435761L % P
          val h = (t * t + lit(104729L)) % P
          when(h > acc.getField("h"), struct(h.as("h"), s.as("s")))
            .otherwise(acc)
        }).getField("s")
    docs.select(argmax(nOld).as("shard_old"), argmax(nNew).as("shard_new"))
      .groupBy(col("shard_old"), col("shard_new"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("moved", col("shard_old") =!= col("shard_new"))
  }

  /** DuckDB mirror of [[reshardAudit]] — the same fold via list_reduce
    * (no init: the first element seeds the accumulator, which equals
    * the engine's −1 sentinel because every mix value is ≥ 0).
    */
  def reshardAuditSql(nOld: Int = 8, nNew: Int = 9): String = {
    val P = graft.functions.TextFunctions.P
    def argmax(n: Int): String =
      s"""list_reduce(
         |    list_transform(range(0, $n), s ->
         |      {'h': (((((doc_id % $P) * 31 + s) * 2654435761 % $P)
         |              * (((doc_id % $P) * 31 + s) * 2654435761 % $P)
         |              + 104729) % $P),
         |       's': CAST(s AS BIGINT)}),
         |    (a, b) -> CASE WHEN b['h'] > a['h'] THEN b ELSE a END)['s']""".stripMargin
    s"""WITH rsh AS (
       |  SELECT ${argmax(nOld)} AS shard_old,
       |    ${argmax(nNew)} AS shard_new
       |  FROM documents)
       |SELECT shard_old, shard_new, COUNT(*) AS n_docs,
       |  (shard_old <> shard_new) AS moved
       |FROM rsh GROUP BY shard_old, shard_new""".stripMargin
  }
}
