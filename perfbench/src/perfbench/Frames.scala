package perfbench

import graft.vlm.FrameSchema._

/** Seeded generator of the `qa_frames` corpus. It follows the reference
  * corpus's dataset mix: Objectron about 1 box per frame, Matterport about
  * 5, SUN RGB-D about 8.5, Taskonomy about 23, COCO-like frames with 2D
  * boxes only, and a small tail above `QaTasks.MaxPairBoxes`.
  *
  * Each dataset's box counts come from a fixed cycle, so every seed gives
  * the same multiset of frame sizes and the same pair-join volume; the
  * seed decides which frame gets which size, and every box's geometry and
  * category. The program sees only the JSON corpus written from these
  * records.
  */
object Frames {

  /** A dataset's frames per 1000 and its 3D and 2D box-count cycles; an
    * empty 2D cycle gives a frame one 2D box per 3D box.
    */
  final case class Mix(dataset: String, per1000: Int, boxes3d: Seq[Int], boxes2d: Seq[Int])

  val mix: Seq[Mix] = Seq(
    Mix("objectron", 300, Seq(1), Seq(0)),
    Mix("matterport", 200, 3 to 7, Seq.empty),
    Mix("sunrgbd", 200, 5 to 12, Seq.empty),
    Mix("taskonomy", 110, Seq(13, 18, 23, 28, 33), Seq.empty),
    Mix("coco", 180, Seq(0), 3 to 11),
    Mix("hypersim", 10, Seq(66, 72, 78, 84, 90), Seq(0)))

  private val categories = Vector("chair", "table", "lamp", "sofa", "bed", "monitor",
    "cabinet", "shelf", "door", "window", "class_84", "object_7")

  private val depthType = Map("objectron" -> "none", "matterport" -> "depth_png_mm",
    "sunrgbd" -> "depth_png_mm", "taskonomy" -> "depth_png_encoded", "coco" -> "pseudo",
    "hypersim" -> "depth_hdf5_meters")

  /** Size `j` of `count` frames, spread evenly over a symmetric cycle so
    * the mean matches the cycle's mean at any count.
    */
  private def spread(cycle: Seq[Int], j: Int, count: Int): Int =
    if (cycle.isEmpty) -1 else cycle(((2 * j + 1) * cycle.size) / (2 * count))

  /** `n` frames (a multiple of 100 keeps every dataset present), sorted by
    * (dataset, split, image_id) so the written files depend on the seed
    * only.
    */
  def generate(n: Int, seed: Long): Seq[FrameRecord] = {
    val rnd = new java.util.Random(seed)
    def u(lo: Double, hi: Double) = lo + rnd.nextDouble() * (hi - lo)
    mix.flatMap { m =>
      val count = n * m.per1000 / 1000
      // fixed multiset of sizes per dataset, seeded assignment to frames
      val sizes = scala.util.Random.javaRandomToRandom(rnd).shuffle(
        (0 until count).map(j => (spread(m.boxes3d, j, count), spread(m.boxes2d, j, count))))
      sizes.zipWithIndex.map { case ((n3, n2raw), j) =>
        val n2 = if (n2raw < 0) n3 else n2raw // -1: one 2D box per 3D box
        val b3 = (0 until n3).map { _ =>
          Bbox3D(x = u(-3, 3), y = u(-1, 1), z = u(1, 9),
            xl = u(0.2, 1.2), yl = u(0.2, 1.2), zl = u(0.2, 1.2),
            pitch = 0, yaw = u(-1, 1), roll = 0,
            category = categories(rnd.nextInt(categories.size)))
        }
        val b2 = (0 until n2).map { _ =>
          val w = u(20, 220); val h = u(20, 170)
          Bbox2D(u(0, 400), u(0, 300), w, h, Some(w * h), categories(rnd.nextInt(categories.size)))
        }
        val fx = u(480, 620)
        FrameRecord(
          dataset = m.dataset, split = if (j % 5 == 0) "val" else "train",
          image_id = f"${m.dataset}_$j%06d",
          scene_id = Some(f"${m.dataset}_scene${j / 20}%04d"),
          video_id = if (m.dataset == "objectron") Some(f"video${j / 50}%04d") else None,
          frame_id = Some((j % 20).toString),
          filename = Some(f"${m.dataset}_$j%06d.jpg"),
          rgb_path = Some(f"${m.dataset}/rgb/$j%06d.jpg"),
          depth_path = if (depthType(m.dataset) == "none") None else Some(f"${m.dataset}/depth/$j%06d.png"),
          depth_type = depthType(m.dataset),
          camera = Camera(fx, fx, 320, 240, 640, 480,
            Seq(Seq(fx, 0, 320), Seq(0, fx, 240), Seq(0, 0, 1.0)),
            if (m.dataset == "coco") None
            else Some(Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0), Seq(0, 0, 0, 1.0)))),
          depth_stats = None,
          bounding_boxes_2d = b2, bounding_boxes_3d = b3,
          timestamp = if (m.dataset == "objectron") Some(1600000000000L + j * 100L) else None)
      }
    }.sortBy(f => (f.dataset, f.split, f.image_id))
  }
}
