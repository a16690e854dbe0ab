package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stress-scale data generator: replicates a testdata directory R×
  * with disjoint key ranges, producing "more of the same distribution"
  * rather than R identical copies — so measured scaling reflects the
  * PLAN, not fixture-induced quadratics:
  *
  *  - every entity key (order/part/customer/supplier/doc/vec/event/user)
  *    shifts by rep·10⁹, keeping joins and group sizes linear;
  *  - document text suffixes every word with the replica tag, so
  *    exact/near-dup and shingle structure repeats PER replica instead
  *    of colliding ACROSS replicas (identical texts would turn each
  *    planted dup group of k into one of R·k — pair counts quadratic in
  *    R by fixture, not by plan);
  *  - embeddings rotate by rep positions — norm and per-replica
  *    neighborhood structure preserved, cross-replica cosine decorrelated
  *    (identical vectors would multiply LSH bucket pair counts by R²);
  *  - customer names suffix three copies of a distinct replica letter
  *    (cross-replica distance = 3 between suffixed replicas, 3
  *    insertions against the unsuffixed rep 0 — never 0 or 1), so the
  *    edit-distance-1 join's pair structure repeats per replica instead
  *    of every name matching its R−1 clones at distance 0; reps is
  *    capped at 27 so the letter stays unique;
  *  - dimension tables (region/nation) stay single-copy, as they would
  *    at any scale.
  *
  * Usage: runMain graft.ScaleData [srcDir] [dstDir] [reps]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sfbig")
    val reps = args.lift(2).flatMap(_.toIntOption).getOrElse(5)
    // the customer-name suffix letter must be unique per replica (rep 0
    // unsuffixed, reps 1..26 get distinct letters); at 28+ replicas the
    // %26 wrap would silently reintroduce the distance-0 name clones
    // the perturbation exists to prevent
    require(reps >= 1 && reps <= 27, s"reps out of the letter-suffix range: $reps")
    val spark = GraftSession.start(GraftSession.cpus)
    val OFF = 1000000000L

    def reps5(t: DataFrame): DataFrame =
      t.crossJoin(spark.range(reps).toDF("rep"))
    def shift(c: String): org.apache.spark.sql.Column =
      col(c) + col("rep") * OFF

    def write(name: String)(f: DataFrame => DataFrame): Unit = {
      val in = spark.read.parquet(s"$src/$name.parquet")
      f(in).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scale] $name done")
    }

    write("region")(identity)
    write("nation")(identity)
    write("customer")(t => reps5(t)
      .withColumn("c_custkey", shift("c_custkey"))
      // rep letter tripled: cross-replica name distance is exactly 3
      // (never 0 or 1), replica-local distance structure unchanged
      .withColumn("c_name", when(col("rep") === 0, col("c_name"))
        .otherwise(concat(col("c_name"),
          expr("repeat(char(97 + rep % 26), 3)"))))
      .drop("rep"))
    write("supplier")(t => reps5(t)
      .withColumn("s_suppkey", shift("s_suppkey")).drop("rep"))
    write("part")(t => reps5(t)
      .withColumn("p_partkey", shift("p_partkey")).drop("rep"))
    write("orders")(t => reps5(t)
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")).drop("rep"))
    write("lineitem")(t => reps5(t)
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")).drop("rep"))
    write("events")(t => reps5(t)
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id")).drop("rep"))
    write("documents")(t => reps5(t)
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("text", when(col("rep") === 0, col("text"))
        .otherwise(concat_ws(" ", transform(split(col("text"), " "),
          w => concat(w, lit("r"), col("rep"))))))
      .withColumn("n_chars", length(col("text")))
      .drop("rep"))
    write("embeddings")(t => reps5(t)
      .withColumn("vec_id", shift("vec_id"))
      // rotation amount wraps at the dimension, so reps > dim cannot
      // produce a negative slice length mid-write
      .withColumn("rot", pmod(col("rep"), size(col("embedding")).cast("long")).cast("int"))
      .withColumn("embedding", when(col("rot") === 0, col("embedding"))
        .otherwise(concat(
          slice(col("embedding"), col("rot") + 1,
            size(col("embedding")) - col("rot")),
          slice(col("embedding"), lit(1), col("rot")))))
      .drop("rep", "rot"))
    spark.stop()
  }
}
