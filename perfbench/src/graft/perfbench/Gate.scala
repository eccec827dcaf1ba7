package graft.perfbench

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import scala.collection.mutable
import graft.PairLabel

/** Recall and decoy checks of one cluster assignment. */
final case class Check(recall: Double, verifiableRecall: Double, decoyApart: Double,
    falseMerges: Int, problems: Seq[String])

/** Ground truth of a generated corpus.
  *
  * `Fixtures.plan` labels every planted variant a duplicate, but some of
  * its JPEG variants decode below the engine's PSNR threshold against
  * their base (3–6% of planted base–variant pairs at a few hundred
  * clusters), so no engine that keeps the threshold can reach recall 1 on
  * those labels. `verifiable` holds the planted pairs that a chain of
  * planted pairs clearing the threshold connects, judged by a decoder and
  * PSNR written here, independent of the engine's `Imaging`.
  */
final class Truth(labels: Vector[PairLabel], bytes: Map[String, Array[Byte]],
    thresholdDb: Double) {
  val positives: Vector[PairLabel] = labels.filter(_.label)
  val decoys: Vector[PairLabel] = labels.filterNot(_.label)

  val verifiable: Vector[PairLabel] = {
    val pixels = mutable.Map.empty[String, Array[Int]]
    def rgb(id: String): Array[Int] = pixels.getOrElseUpdate(id, {
      val img = ImageIO.read(new ByteArrayInputStream(bytes(id)))
      img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
    })
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    positives.foreach { l =>
      if (Truth.psnr(rgb(l.a), rgb(l.b)) >= thresholdDb) parent(find(l.a)) = find(l.b)
    }
    positives.filter(l => find(l.a) == find(l.b))
  }

  def check(clusters: Map[String, String]): Check = {
    def same(l: PairLabel) = clusters.get(l.a).exists(c => clusters.get(l.b).contains(c))
    def share(ls: Vector[PairLabel]) = if (ls.isEmpty) 1.0 else ls.count(same).toDouble / ls.size
    val falseMerges = decoys.count(same)
    val verifiableRecall = share(verifiable)
    val problems = Seq(
      if (falseMerges > 0) Some(s"$falseMerges decoy pairs share a cluster") else None,
      if (verifiableRecall < 0.99)
        Some(f"recall of pixel-verifiable planted pairs $verifiableRecall%.4f < 0.99")
      else None).flatten
    Check(share(positives), verifiableRecall,
      if (decoys.isEmpty) 1.0 else 1.0 - falseMerges.toDouble / decoys.size,
      falseMerges, problems)
  }
}

object Truth {
  /** PSNR over the RGB channels of two decoded images; +∞ when identical. */
  def psnr(a: Array[Int], b: Array[Int]): Double =
    if (a.length != b.length) 0.0
    else {
      var se = 0.0
      var i = 0
      while (i < a.length) {
        var s = 0
        while (s < 24) {
          val d = ((a(i) >> s) & 0xff) - ((b(i) >> s) & 0xff)
          se += d * d
          s += 8
        }
        i += 1
      }
      if (se == 0) Double.PositiveInfinity
      else 10 * math.log10(255.0 * 255.0 * a.length * 3 / se)
    }
}
