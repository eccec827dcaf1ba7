package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.{Fixtures, PairLabel}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A generated corpus on disk: [[Corpus.NumFiles]] parquet files part-0 … part-N
  * in one directory (the batch jobs read the directory, the stream reads one
  * file per trigger), plus the generator's labels.
  */
final case class Corpus(dir: String, files: Seq[String], specs: Vector[Fixtures.Spec],
    labels: Vector[PairLabel], bytes: Long) {
  def rows: Int = specs.size
}

object Corpus {
  val NumFiles = 2

  /** A workload's share of one generator plan: from `Fixtures.plan(n, seed,
    * maxSize)`, the first clusters in plan order that fill a fixed
    * cluster-size histogram, namely the one the generator's distribution
    * expects for the cluster count that averages `images` images. The
    * generator draws size = min(maxSize, ⌊u^-0.7⌋) for u uniform in (0, 1],
    * so P(size ≥ k) = k^(-1/0.7), and gives ~30% of clusters a decoy. Taking
    * clusters as drawn would let the pair work swing from seed to seed: at a
    * few hundred clusters one size-48 cluster (1,128 planted pairs) is there
    * or not at random. Sizes above 8 are binned, so a seed's plan has
    * enough clusters of each bin.
    */
  def sample(images: Int, maxSize: Int, seed: Long): (Vector[Fixtures.Spec], Vector[PairLabel]) = {
    def tail(k: Int) = math.pow(k, -1 / 0.7)
    val p = (1 to maxSize).map(k => k -> (if (k == maxSize) tail(k) else tail(k) - tail(k + 1)))
    val clusters = math.round(images / (p.map { case (k, q) => k * q }.sum + 0.3)).toInt
    def bin(size: Int): Int =
      if (size <= 8 || size == maxSize) size
      else if (size <= 16) 16
      else if (size <= 32) 32
      else maxSize - 1
    val expected = p.groupMapReduce(kq => bin(kq._1))(_._2 * clusters)(_ + _)
    val rest = clusters - expected.values.map(_.toInt).sum
    val extra = expected.toSeq.sortBy { case (b, e) => (e.toInt - e, b) }.take(rest).map(_._1).toSet
    val need = expected.map { case (b, e) => b -> (e.toInt + (if (extra(b)) 1 else 0)) }

    def fill(n: Int): Option[(Vector[Fixtures.Spec], Vector[PairLabel])] = {
      val (specs, labels) = Fixtures.plan(n, seed, maxSize)
      val left = mutable.Map(need.toSeq: _*)
      val groups = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Fixtures.Spec]]
      specs.foreach { s =>
        if (s.kind == "base") groups += mutable.ArrayBuffer(s) else groups.last += s
      }
      val chosen = groups.filter { g =>
        val b = bin(g.count(_.kind != "decoy"))
        val ok = left.getOrElse(b, 0) > 0
        if (ok) left(b) -= 1
        ok
      }.flatten.toVector
      val ids = chosen.iterator.map(_.image_id).toSet
      if (left.values.exists(_ > 0)) None
      else Some((chosen, labels.filter(l => ids(l.a) && ids(l.b))))
    }
    Iterator.iterate(math.max(2000, 20 * clusters))(_ * 4).take(4).map(fill).collectFirst {
      case Some(plan) => plan
    }.getOrElse(throw new IllegalStateException(
      s"plan of seed $seed lacks clusters for the size histogram $need"))
  }

  /** Writes the corpus of `specs` or reuses a cached copy. The cache key
    * holds every generator parameter, the seed and the source digest (a
    * change to the generator's code makes a new key); a cached copy is used
    * only if its row count and image_id hash match the specs.
    */
  def prepare(spark: SparkSession, cacheRoot: Path, images: Int, maxSize: Int, seed: Long,
      sourceDigest: String): Corpus = {
    val (specs, labels) = sample(images, maxSize, seed)
    val key = s"i${images}_m${maxSize}_f${NumFiles}_s${seed}_$sourceDigest"
    val dir = cacheRoot.resolve(key)
    import spark.implicits._
    val expectedHash = spark.createDataset(specs.map(_.image_id)).toDF("image_id")
      .agg(expr("bit_xor(xxhash64(image_id))")).head.getLong(0)

    def valid: Boolean = Files.isDirectory(dir) && partFiles(dir).size == NumFiles && {
      val r = spark.read.parquet(dir.toString)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(image_id))")).head
      r.getLong(0) == specs.size && r.getLong(1) == expectedHash
    }

    if (!valid) {
      deleteTree(dir)
      val tmp = cacheRoot.resolve(s".$key.tmp")
      deleteTree(tmp)
      spark.createDataset(specs)
        .repartition(spark.sparkContext.defaultParallelism)
        .map(Fixtures.render)
        .repartition(NumFiles, col("image_id"))
        .sortWithinPartitions("image_id")
        .write.parquet(tmp.toString)
      Files.createDirectories(dir)
      // stable names and strictly increasing mtimes: the file stream
      // source takes files oldest first, so part-i is micro-batch i
      val t0 = System.currentTimeMillis() - 60000L
      partFiles(tmp).zipWithIndex.foreach { case (f, i) =>
        val dst = dir.resolve(s"part-$i.parquet")
        Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
      }
      deleteTree(tmp)
      require(valid, s"generated corpus $dir fails its own row/id check")
    }
    val files = partFiles(dir)
    Corpus(dir.toString, files.map(_.toString), specs, labels, files.map(Files.size).sum)
  }

  /** Data files of a parquet directory, in name order (hidden files
    * skipped); with fewer than ten files that is also part-number order.
    */
  def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toList.sortBy(_.getFileName.toString)
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally w.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
}
