package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark inputs: an upstream written by `graft.GenFixtures` and laid
  * out like a chunked primary-key range export, and a replica written as a
  * separate parquet source with seeded drift. Every expected engine output
  * comes from the keys the generator perturbed, through plain filters and
  * value comparisons here, never through the engine's diff operators.
  */
object Inputs {

  /** A compared table: how its row key is spelled as one Long. */
  case class Big(name: String, keyCols: Seq[String], key: Column, keyed: Boolean)

  // lineitem's composite key packs as l_orderkey * 8 + l_linenumber
  // (line numbers run 1..7), the same id GenFixtures derives its values from.
  val big: Seq[Big] = Seq(
    Big("orders", Seq("o_orderkey"), col("o_orderkey"), keyed = true),
    Big("lineitem", Seq("l_orderkey", "l_linenumber"),
      col("l_orderkey") * 8 + col("l_linenumber"), keyed = false),
    Big("events", Seq("event_id"), col("event_id"), keyed = true))

  /** Files per table on each side: the two sources never share a layout. */
  val upFiles = 12
  val downFiles = 8

  /** Chunk width scaled with sf, so every keyed table has as many chunks
    * as it has at sf1 under the reference's chunk_size of 5000.
    */
  def chunkWidth(sf: Double): Long = math.max(1L, math.round(5000 * sf))

  /** What the generator changed in one table, by row key. */
  case class Truth(table: String, upcount: Long, downcount: Long,
                   missing: Set[Long], mismatch: Set[Long], extra: Set[Long]) {
    def differs: Boolean = missing.nonEmpty || mismatch.nonEmpty || extra.nonEmpty
    /** Chunk ids holding drift, for a keyed table chunked by `width`. */
    def badChunks(width: Long): Set[Long] =
      (missing ++ mismatch ++ extra).map(k => Math.floorDiv(k, width))
  }

  /** Drift plan for one table: per eligible row, delete with probability
    * `pDelete`, else take a stale value with probability `pMutate`; plus
    * `inserts` new rows keyed past the current maximum.
    */
  case class Drift(eligible: Column, pDelete: Double, pMutate: Double,
                   inserts: Long)

  private def write(df: DataFrame, t: Big, files: Int, path: Path): Unit =
    df.repartitionByRange(files, t.keyCols.map(col): _*)
      .sortWithinPartitions(t.keyCols.map(col): _*)
      .write.mode("overwrite").parquet(path.resolve(s"${t.name}.parquet").toString)

  /** Upstream at `sf` in `dir`: GenFixtures writes every table (Discover's
    * manifest counts all ten), then the three compared tables are rewritten
    * sorted by key into [[upFiles]] files, so each file covers one key range
    * as a PK range export would and min/max statistics can skip files.
    * GenFixtures builds and stops its own session, so this runs before the
    * generator's session exists.
    */
  def generateUpstream(dir: Path, sf: Double, session: () => SparkSession): Unit = {
    val raw = dir.resolveSibling(dir.getFileName.toString + ".raw")
    Files.createDirectories(dir)
    graft.GenFixtures.main(Array(raw.toString, sf.toString))
    val spark = session()
    graft.Tables.all.foreach { name =>
      big.find(_.name == name) match {
        case Some(t) => write(graft.Tables.load(spark, raw.toString, name), t, upFiles, dir)
        case None => Files.move(raw.resolve(s"$name.parquet"), dir.resolve(s"$name.parquet"))
      }
    }
    deleteTree(raw)
  }

  /** The drift each workload applies to each compared table. */
  def plan(workload: String, seed: Long, t: Big, rows: Long,
           width: Long): Option[Drift] = {
    val rng = new scala.util.Random(seed * 31 + t.name.hashCode)
    workload match {
      case "nightly_clean" => None
      case "replica_lag" if t.keyed =>
        // the newest ~1% of keys, lost or stale
        val tail = math.round(rows * (0.008 + 0.004 * rng.nextDouble()))
        Some(Drift(t.key >= rows - tail, 0.6, 0.4, 0L))
      case "replica_lag" => None
      case "scattered_drift" if t.keyed =>
        // 0.1% deletes and 0.1% stale values, confined to a seeded quarter
        // of the chunks, none of them adjacent, so the bad chunks stay
        // separate ranges; plus 0.1% inserts past the maximum key
        val chunks = ((rows + width - 1) / width).toInt
        val picked = scala.collection.mutable.Set.empty[Int]
        rng.shuffle((0 until chunks).toList).foreach { c =>
          if (picked.size < chunks / 4 && !picked(c - 1) && !picked(c + 1))
            picked += c
        }
        Some(Drift(floor(t.key / width).cast("int").isin(picked.toSeq: _*),
          0.004, 0.004, math.round(rows * 0.001)))
      case "scattered_drift" =>
        Some(Drift(lit(true), 0.001, 0.001, math.round(rows * 0.001)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Write the replica of table `t` into `dir` and return its ground truth.
    * A stale value takes another row's stored value of one column; the row
    * counts as drifted only if that value actually differs.
    */
  def writeReplica(spark: SparkSession, up: DataFrame, t: Big, rows: Long, maxKey: Long,
                   drift: Option[Drift], seed: Long, dir: Path, clean: Path): Truth = {
    drift match {
      case None =>
        // a clean table's replica does not depend on the seed: written once
        val cached = clean.resolve(s"${t.name}.parquet")
        if (!Files.isDirectory(cached)) {
          val tmp = clean.resolve(s"${t.name}.tmp")
          deleteTree(tmp)
          write(up, t, downFiles, tmp)
          Files.move(tmp.resolve(s"${t.name}.parquet"), cached)
          deleteTree(tmp)
        }
        copyTree(cached, dir.resolve(s"${t.name}.parquet"))
        Truth(t.name, rows, rows, Set.empty, Set.empty, Set.empty)
      case Some(d) =>
        val r = pmod(xxhash64(lit(seed), lit(t.name), t.key), lit(1L << 40))
          .cast("double") / (1L << 40).toDouble
        val kinds = up.select(t.key.as("k"),
          when(d.eligible && r < d.pDelete, lit("D"))
            .when(d.eligible && r < d.pDelete + d.pMutate, lit("M")).as("kind"))
          .filter(col("kind").isNotNull).collect()
        val deleted = kinds.filter(_.getString(1) == "D").map(_.getLong(0)).toSet
        val stale = kinds.filter(_.getString(1) == "M").map(_.getLong(0)).sorted.toSeq

        // donors are existing rows: keyed tables hold keys 0..max, and every
        // lineitem order has a line 1
        val rng = new scala.util.Random(seed ^ t.name.hashCode.toLong)
        def donor(): Long =
          if (t.keyed) (rng.nextDouble() * (maxKey + 1)).toLong
          else (rng.nextDouble() * (maxKey / 8 + 1)).toLong * 8 + 1
        val names = up.columns.toSeq
        val valueIdx = names.indices.filterNot(i => t.keyCols.contains(names(i)))
        val staleFrom = stale.map(k => (k, donor(), valueIdx(rng.nextInt(valueIdx.size))))
        val inserts = (1L to d.inserts).map(i => (i, donor()))
        val wanted = (stale ++ staleFrom.map(_._2) ++ inserts.map(_._2)).distinct
        val byKey = up.join(broadcast(spark.createDataFrame(wanted.map(Tuple1(_)))
            .toDF("__k")), t.key === col("__k"))
          .collect().map(row =>
            row.getLong(names.size) -> Row.fromSeq(row.toSeq.take(names.size)))
          .toMap

        val staleRows = staleFrom.map { case (k, from, i) =>
          k -> Row.fromSeq(byKey(k).toSeq.updated(i, byKey(from).get(i)))
        }
        val mismatch = staleRows.collect { case (k, row) if row != byKey(k) => k }.toSet
        // new rows copy a donor's values under the next keys; lineitem
        // grows by new orders of one line each
        val insertRows = inserts.map { case (i, from) =>
          val values = byKey(from).toSeq
          if (t.keyed)
            (maxKey + i, Row.fromSeq(values.updated(names.indexOf(t.keyCols.head), maxKey + i)))
          else {
            val order = maxKey / 8 + i
            (order * 8 + 1, Row.fromSeq(values
              .updated(names.indexOf("l_orderkey"), order)
              .updated(names.indexOf("l_linenumber"), 1)))
          }
        }
        val changed = spark.createDataFrame(
          (staleRows.map(_._2) ++ insertRows.map(_._2)).asJava, up.schema)
        val gone = spark.createDataFrame((deleted.toSeq ++ stale).map(Tuple1(_))).toDF("__k")
        write(up.join(broadcast(gone), t.key === col("__k"), "left_anti")
          .unionByName(changed), t, downFiles, dir)
        Truth(t.name, rows, rows - deleted.size + insertRows.size,
          deleted, mismatch, insertRows.map(_._1).toSet)
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Input-property audit from the generator's own keys: a clean night has
    * no differing row; replication lag leaves at most 32 merged bad-chunk
    * ranges (the range-pushdown tier); scattered drift leaves more than 32
    * and fewer than 100 000 bad chunks (the broadcast semi-join tier).
    */
  def audit(workload: String, truths: Seq[Truth], width: Long): Unit = {
    def ranges(ids: Set[Long]): Int = {
      val s = ids.toSeq.sorted
      s.indices.count(i => i == 0 || s(i) != s(i - 1) + 1)
    }
    truths.foreach { t =>
      val keyed = big.exists(b => b.name == t.table && b.keyed)
      val bad = t.badChunks(width)
      val ok = workload match {
        case "nightly_clean" => !t.differs
        case "replica_lag" => if (keyed) bad.nonEmpty && ranges(bad) <= 32 else !t.differs
        case "scattered_drift" =>
          if (keyed) ranges(bad) > 32 && bad.size < 100000 else t.differs
      }
      require(ok, s"$workload input lacks its property on ${t.table}: " +
        s"${bad.size} bad chunks in ${ranges(bad)} ranges")
    }
  }
}

/** Writes the inputs of one run: the upstream when it is not cached yet,
  * then the seeded replica; returns the ground truth per table.
  */
object Generate {
  /** `session` builds the generator's session on first use; GenFixtures
    * needs to run before it exists.
    */
  def apply(session: () => SparkSession, workload: String, seed: Long, sf: Double,
            upstream: Path, replica: Path): Map[String, Inputs.Truth] = {
    if (!Files.isDirectory(upstream)) {
      val tmp = upstream.resolveSibling(upstream.getFileName.toString + ".tmp")
      Inputs.deleteTree(tmp)
      Inputs.generateUpstream(tmp, sf, session)
      Files.move(tmp, upstream)
    }
    val spark = session()
    val width = Inputs.chunkWidth(sf)
    val clean = upstream.resolveSibling(upstream.getFileName.toString + ".clean-replica")
    Files.createDirectories(clean)
    Files.createDirectories(replica)
    val truths = Inputs.big.map { t =>
      val up = graft.Tables.load(spark, upstream.toString, t.name)
      val stats = up.agg(count(lit(1)), max(t.key)).head
      val rows = stats.getLong(0)
      Inputs.writeReplica(spark, up, t, rows, stats.getLong(1),
        Inputs.plan(workload, seed, t, rows, width), seed, replica, clean)
    }
    Inputs.audit(workload, truths, width)
    truths.map(t => t.table -> t).toMap
  }
}
