package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared building blocks for the operator catalog ([[graft.SparkEntry]]).
  *
  * Every oracle-checked query must produce BIT-IDENTICAL values in Spark and
  * in DuckDB (the driver hash-compares). The rules encoded here:
  *
  *  - integer arithmetic wherever possible (counts, token positions, hashes);
  *  - money/measure sums go through `DECIMAL` (exact, order-independent) and
  *    are cast to double only at the very end;
  *  - per-row double arithmetic (cosine similarity, ratios) is written as a
  *    left-to-right fold so both engines execute the same IEEE op sequence;
  *  - cross-engine hashing uses md5 (identical bytes in, identical hex out) —
  *    never engine-native hash functions (xxhash64 vs duckdb hash differ).
  */
object OpsCommon {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** 31-bit positive hash derived from md5 — the one hash function both
    * engines can compute identically. DuckDB mirror:
    * `(('0x' || substr(md5(x),1,15))::BIGINT % 2147483648)`. */
  def hash31(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long") % 2147483648L

  /** DuckDB SQL fragment mirroring [[hash31]]. */
  def hash31Sql(x: String): String =
    s"(('0x' || substr(md5($x),1,15))::BIGINT % 2147483648)"

  /** Exact decimal sum of a double column, surfaced as double.
    * Order-independent (decimal addition is exact) ⇒ safe under any
    * partitioning; identical in DuckDB as
    * `(sum(cast(x as decimal(18,s))))::DOUBLE`. */
  def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  def decSumSql(x: String, scale: Int = 2): String =
    s"cast(sum(cast($x as decimal(18,$scale))) as double)"

  /** Whitespace-token array. Both engines split on the literal single space
    * and keep empty tokens; corpus text is single-spaced so semantics agree. */
  def tokens(textCol: Column): Column = split(textCol, " ")

  /** Word-trigram shingles (distinct) of a token array column, 1-based
    * element_at on both engines. Returns an array column; empty when <3
    * tokens. */
  def triShingles(ts: Column): Column =
    when(size(ts) >= 3,
      array_distinct(transform(sequence(lit(1), size(ts) - 2), i =>
        concat_ws(" ", element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB mirror of [[triShingles]] given a token-list expression. */
  def triShinglesSql(ts: String): String =
    s"(case when len($ts) >= 3 then list_distinct(list_transform(range(1, len($ts) - 1), " +
      s"i -> $ts[i] || ' ' || $ts[i+1] || ' ' || $ts[i+2])) else [] end)"

  /** Non-overlapping substring occurrence count (Python `str.count`
    * semantics — both engines implement replace() as non-overlapping
    * left-to-right). Mirrors the reference's keyword scoring
    * (`template.py:294`). */
  def substrCount(hay: Column, needle: String): Column =
    ((length(hay) - length(call_function("replace", hay, lit(needle), lit("")))) / needle.length).cast("int")

  def substrCountSql(hay: String, needle: String): String =
    s"cast((length($hay) - length(replace($hay, '$needle', ''))) / ${needle.length} as int)"

  /** Cast a float-array column to double before any arithmetic so both
    * engines run identical IEEE double op sequences. */
  def asDoubles(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-to-right dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Left-to-right squared L2 norm. */
  def norm2(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity, rounded to 4 decimals (identical fold order on both
    * engines makes the raw doubles bit-equal in practice; rounding guards the
    * last ulp). */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b))), 4)

  /** Self-join candidate-pair generation over bucket keys WITH hot-bucket
    * salting — the 10^12-doc guard for LSH band joins (README §scale): a
    * single pathological band bucket of m rows otherwise produces one m²-pair
    * straggler task.
    *
    * Dataflow: (1) census `groupBy(keys).count` — one partial-agg shuffle of
    * the (small) bucket frame; (2) buckets holding more than `hotCap` rows
    * are broadcast as the hot set; (3) the left side gets a deterministic
    * per-row salt in [0, nSalts) for hot rows (salt 0 otherwise), the right
    * side REPLICATES hot rows to every salt — so each qualifying pair matches
    * exactly once, but a hot bucket's pairs spread across nSalts tasks
    * (m²/nSalts per task instead of m²). Cold buckets join exactly as before
    * (both sides salt 0, no replication).
    *
    * The pair SET is identical to the unsalted join — DuckDB oracles are
    * unaffected. Output: `keys ++ (id_a, id_b, salt)` with id_a < id_b, NOT
    * deduplicated across buckets (callers `.distinct()` after dropping salt,
    * exactly as with the plain join). */
  def saltedSelfPairs(buckets: DataFrame, keys: Seq[String], id: String,
                      hotCap: Int, nSalts: Int): DataFrame = {
    val keyCols = keys.map(col)
    val hot = buckets.groupBy(keyCols: _*).agg(count(lit(1)).as("bkt_n"))
      .filter(col("bkt_n") > hotCap)
      .select(keyCols :+ lit(true).as("is_hot"): _*)
    val tagged = buckets.join(broadcast(hot), keys, "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
    // deterministic salt (Murmur3 of the id): reproducible runs, and the salt
    // never reaches the oracle-compared output
    val a = tagged.withColumn("salt",
      when(col("is_hot"), pmod(hash(col(id)), lit(nSalts))).otherwise(lit(0)))
    val b = tagged.withColumn("salt",
      explode(when(col("is_hot"), sequence(lit(0), lit(nSalts - 1)))
        .otherwise(array(lit(0)))))
    val cond = keys.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.salt") === col("b.salt") &&
      col(s"a.$id") < col(s"b.$id")
    a.as("a").join(b.as("b"), cond)
      .select(keys.map(k => col(s"a.$k").as(k)) ++
        Seq(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
            col("a.salt").as("salt")): _*)
  }

  /** DuckDB mirrors (list_zip yields structs indexed x[1]/x[2]). */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2]))"
  def norm2Sql(a: String): String =
    s"list_sum(list_transform($a, x -> x*x))"
}
