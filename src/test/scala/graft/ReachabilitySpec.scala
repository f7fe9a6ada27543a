package graft

import org.scalatest.funsuite.AnyFunSuite

/** Reachability gate over `src/main/scala`: every declaration the program
  * exposes is used by the program, or the allowlist says why not.
  *
  * Checked: every `def`, `val`, `var`, `class`, `case class`, `trait` and
  * `object` declared at top level or directly inside a top-level object or
  * class (0 or 2 spaces of indent). Skipped: declarations marked `private`
  * or `protected` (a qualified `private[graft]` is still checked — tests can
  * reach it, so narrowing visibility does not pass the gate), declarations
  * marked `override` or `implicit` (implicits are used without their names,
  * e.g. `FrameSchema.frameEncoder` through `import FrameSchema._`), and
  * objects that define `def main` (and that `main`).
  *
  * Reached: the name occurs as a whole word, comments stripped, somewhere in
  * `src/main/scala` or `perfbench/src` other than at a declaration of that
  * name. A name used only inside its own file counts as reached, so deleting
  * a dead caller makes its now-dead callees fail on the next run.
  *
  * Known limit: the check matches names, not symbols. A dead `run` hides
  * behind any live `run`, and a name inside a string literal (an error
  * message, say) counts as a use.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val scan = Reachability(
    SourceScan.sources(new java.io.File("src/main/scala")),
    SourceScan.sources(new java.io.File("perfbench/src")))

  test("every src/main declaration is reached from src/main or perfbench/src, or allowlisted") {
    val flagged = scan.unreached.filterNot(d => Allowlist.contains(d.key))
    assert(flagged.isEmpty, s"${flagged.size} unreached: " +
      flagged.map(d => s"${d.key} (${d.file})").mkString(", "))
  }

  test("each allowlist entry is declared, unreached and names its category") {
    val unreached = scan.unreached.map(_.key).toSet
    val declared = scan.checked.map(_.key).toSet
    val stale = Allowlist.toSeq.sortBy(_._1).collect {
      case (key, _) if !declared(key) => s"$key: not declared"
      case (key, _) if !unreached(key) => s"$key: reached"
      case (key, why) if !Categories.exists(why.startsWith) => s"$key: no category in '$why'"
    }
    assert(stale.isEmpty, stale.mkString("; "))
  }
}

object ReachabilitySpec {

  /** The three reasons a declaration may stay with no caller in the program. */
  val Categories: Seq[String] = Seq(
    // a reader or kernel of the raw datasets, or the Codebook side
    // pipeline, that the one normalization entry (ROADMAP direction 9,
    // `Normalize.run`) is to call
    "Phase 1:",
    // a scalar kernel or preset invariant that the named spec checks
    // product code against
    "Reference:",
    // a read-only view the named spec needs to check behaviour a main runs
    "Observer:")

  /** `Owner.member` (or a top-level name) → why nothing in the program
    * calls it. Each reason starts with one of [[Categories]].
    */
  val Allowlist: Map[String, String] = Map(
    // Phase 1 readers, their kernels, and the Codebook side pipeline
    "RawSources" -> "Phase 1: COCO and SUN RGB-D readers",
    "RawSources.readCoco" -> "Phase 1: COCO annotation reader",
    "RawSources.cocoToFrames" -> "Phase 1: COCO → frame schema",
    "RawSources.sunrgbdToFrames" -> "Phase 1: SUN RGB-D → frame schema",
    "RawSources.normalizeBoxes2d" -> "Phase 1: 2D box encodings of the raw readers",
    "RawSources.coalesceBoxes2d" -> "Phase 1: 2D box encodings of the raw readers",
    "RawSources.withPathPartitions" -> "Phase 1: dataset/split from the raw directory layout",
    "MatterportSources" -> "Phase 1: Matterport reader",
    "MatterportSources.matterportFrames" -> "Phase 1: Matterport → frame schema",
    "HypersimSources" -> "Phase 1: Hypersim reader",
    "HypersimSources.hypersimFrames" -> "Phase 1: Hypersim → frame schema",
    "TaskonomySources" -> "Phase 1: Taskonomy reader",
    "TaskonomySources.taskonomyFrames" -> "Phase 1: Taskonomy → frame schema",
    "MaskJobs.instanceAggregates" -> "Phase 1: Taskonomy mask → per-instance boxes",
    "TfRecords" -> "Phase 1: Objectron TFRecord reader",
    "TfRecords.parseSequenceExample" -> "Phase 1: Objectron SequenceExample decode",
    "TfRecords.objectronEvalFrames" -> "Phase 1: Objectron eval split → frame schema",
    "ObjectronPb.objectronFrames" -> "Phase 1: Objectron protobuf → frame schema",
    "LandingZone.rawU16Decoder" -> "Phase 1: depth raster decoder for the landing zone",
    "LandingZone.hdf5Decoder" -> "Phase 1: depth raster decoder for the landing zone",
    "Conformance" -> "Phase 1: per-source conformance report of the normalized corpus",
    "FrameSchema.conform" -> "Phase 1: aligns each reader's output to the frame schema",
    "Ingest.readFramesStrict" -> "Phase 1: schema-checked read of the normalized corpus (input from outside)",
    "Ingest.auditFrames" -> "Phase 1: per-file audit of the normalized corpus (input from outside)",
    "Geo.fovToFocal" -> "Phase 1: Hypersim/Taskonomy intrinsics from the field of view",
    "Geo.projectTo2d" -> "Phase 1: Codebook's 3D → 2D box projection",
    "Geo.extrinsicsFromPositionEuler" -> "Phase 1: Taskonomy pose from position + Euler angles",
    "Geo.lift2dTo3d" -> "Phase 1: COCO pseudo-3D box lift",
    "Geo.quaternionToEulerDeg" -> "Phase 1: quaternion orientation of the raw annotations",
    "Codebook" -> "Phase 1: Codebook side pipeline",
    "Codebook.applyCodebook" -> "Phase 1: Codebook side pipeline",
    "Codebook.cacheStats" -> "Phase 1: Codebook side pipeline",
    "Codebook.successRates" -> "Phase 1: Codebook side pipeline",
    // scalar references and preset invariants the product code is checked against
    "Geo.cameraPosition" -> "Reference: scalar of GeoFunctions.cameraPositionCol (QaTasksSpec)",
    "Geo.enhancedRelativePosition" -> "Reference: scalar of functions.relativePosition (RelativePositionSpec)",
    "Geo.minDistanceBetweenBoxes" -> "Reference: scalar of functions.minBoxDistance (QaTasksSpec)",
    "Geo.distanceCameraToBox" -> "Reference: scalar of functions.cameraToBoxDistance (QaTasksSpec)",
    "Geo.centerDistance" -> "Reference: scalar of GeoFunctions.centerDistanceCol (QaTasksSpec)",
    "Geo.parseClassCategory" -> "Reference: scalar of GeoFunctions.parseClassCategoryCol (QaTasksSpec)",
    "Geo.normalizeAngle" -> "Reference: scalar of GeoFunctions.normalizeAngleCol (QaTasksSpec)",
    "functions.topRunCount" -> "Reference: top_run_count(shingles(toks, 2)) for functions.topBigramCount (TokenKernelsSpec)",
    "Box3d.iouSampling" -> "Reference: Monte-Carlo estimate of the exact Box3d IoU (Box3dSpec)",
    "BpeTokenizer.wordCounts" -> "Reference: trains the catalog's PinnedMerges (BpeTokenizerSpec)",
    "BpeTokenizer.learn" -> "Reference: trains the catalog's PinnedMerges (BpeTokenizerSpec)",
    "GraftConfig.numBuckets" -> "Reference: preset invariant (GraftConfigSpec)",
    "GraftConfig.candidateProb" -> "Reference: preset invariant (GraftConfigSpec)",
    "GraftConfig.centroidBroadcastBytes" -> "Reference: preset invariant (GraftConfigSpec)",
    // read-only views of behaviour the mains run
    "Layout.retainedVersions" -> "Observer: GC retention of merged layouts (LayoutSpec)",
    "DedupQueries.cachedHandles" -> "Observer: shared-cache lifecycle of Bench/Verify (CacheLifecycleSpec)",
    "shims.statusStoreExecutions" -> "Observer: status-store cap of the product session (StatusStoreCapSpec)")

  /** One checked declaration: `key` is `Owner.member` or a top-level name. */
  final case class Decl(file: String, owner: Option[String], name: String) {
    def key: String = owner.fold(name)(o => s"$o.$name")
  }

  final case class Reachability(main: Seq[(String, String)], bench: Seq[(String, String)]) {
    private val stripped = (main ++ bench).map { case (f, src) => f -> stripComments(src) }

    private val Decl0or2 = ("""^( {0}| {2})((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|""" +
      """implicit\s+|final\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)""" +
      """(def|val|var|class|trait|object)\s+([A-Za-z_]\w*)""").r
    private val Owner = """^(?:package\s+)?(?:(?:final|sealed|abstract|case)\s+)*(?:object|class|trait)\s+(\w+)""".r
    private val Word = """[A-Za-z_]\w*""".r
    private val DeclKeyword = Set("def", "val", "var", "class", "trait", "object", "type")

    /** Every declaration the gate checks, in file order. */
    val checked: Seq[Decl] = stripped.take(main.size).flatMap { case (file, src) =>
      var owner = Option.empty[String]
      src.linesIterator.zipWithIndex.flatMap { case (line, i) =>
        if (!line.startsWith(" ")) Owner.findPrefixMatchOf(line).foreach(m => owner = Some(m.group(1)))
        Decl0or2.findPrefixMatchOf(line).flatMap { m =>
          val mods = m.group(2)
          val top = m.group(1).isEmpty
          val hidden = """\b(?:private|protected)(?!\[)|\bprivate\[this\]|\boverride\b|\bimplicit\b""".r
            .findFirstIn(mods).isDefined
          val isMain = (m.group(3) == "object" && top && definesMain(src, i)) ||
            (m.group(3) == "def" && m.group(4) == "main")
          if (hidden || isMain) None
          else Some(Decl(file, if (top) None else owner, m.group(4)))
        }
      }.toSeq
    }

    /** Names with at least one occurrence not directly after a declaration keyword. */
    private val referenced: Set[String] = stripped.flatMap { case (_, src) =>
      var prev = ""
      Word.findAllIn(src).flatMap { w =>
        val ref = if (DeclKeyword(prev)) None else Some(w)
        prev = w
        ref
      }
    }.toSet

    val unreached: Seq[Decl] = checked.filterNot(d => referenced(d.name))
  }

  /** Does the top-level object opening on line `i` define `def main`? Its
    * body ends at the next line that closes at column 0.
    */
  private def definesMain(src: String, i: Int): Boolean =
    src.linesIterator.drop(i + 1).takeWhile(l => !l.startsWith("}"))
      .exists(_.matches("""\s+def\s+main\s*\(.*"""))

  /** `src` with `//` and (nested) `/* */` comments blanked; string and
    * character literals are kept as written.
    */
  def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder(src.length)
    val n = src.length
    var i = 0
    def literalEnd(from: Int, quote: String): Int = {
      val j = src.indexOf(quote, from)
      if (j < 0) n else j + quote.length
    }
    while (i < n) {
      val c = src.charAt(i)
      if (src.startsWith("\"\"\"", i)) {
        var j = literalEnd(i + 3, "\"\"\"")
        while (j < n && src.charAt(j) == '"') j += 1
        out.append(src, i, j); i = j
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(src, i, j); i = j
      } else if (c == '\'' && i + 3 < n && (src.charAt(i + 1) == '\\' || src.charAt(i + 2) == '\'')) {
        val j = if (src.charAt(i + 1) == '\\') literalEnd(i + 3, "'") else i + 3
        out.append(src, i, j); i = j
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else {
            if (src.charAt(j) == '\n') out.append('\n')
            j += 1
          }
        }
        out.append(' '); i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }
}
