package graft.io

import java.io.File

/** Deterministic MeqTrees-layout beam-cube FITS fixture — the Scala
  * analogue of the reference's beam_factory
  * (africanus/testing/beam_factory.py:37-165): odd npix, DEG-unit X/Y
  * axes centred on CRPIX, a GFREQ1..N irregular frequency grid (jitter
  * made deterministic so the DuckDB oracle can restate it), and the
  * Westerbork cos³ beam model cos(min(65·ν_GHz·r, 1.0881))³.
  */
object BeamFixture {

  val NPix = 9
  val NFreq = 5
  val CDeltDeg = 0.375 // 3-degree extent / (npix - 1)

  def jitter(f: Int): Double =
    if (f == 0 || f == NFreq - 1) 0.0 else ((f * 3) % 5 - 2) * 1e5

  def freq(f: Int): Double = 856e6 + f * 214e6 + jitter(f)

  def lDeg(x: Int): Double = (x - (NPix / 2)) * CDeltDeg

  def rad(deg: Double): Double = deg * (math.Pi / 180.0)

  /** Per-correlation closed-form models for the FULL-Jones quad fixture:
    * all four E-matrix elements are distinct functions of the same
    * clamped Westerbork argument (off-diagonals leakage-small, as real
    * beams have), each restatable in the DuckDB oracle. corr ∈
    * {xx, xy, yx, yy}; ("xx", false) is the Westerbork cos³ model. The
    * imaginary parts are NOT proportional to the real parts, so the
    * trilinear amplitude renormalization of fast_beam_cubes.py:110-238 is
    * value-changing on these cubes. */
  def beamValueCorr(corr: String, im: Boolean, x: Int, y: Int, f: Int): Double = {
    val l = rad(lDeg(x)); val m = rad(lDeg(y))
    val r = math.sqrt(l * l + m * m)
    val a = math.min(65e0 * (freq(f) * 1e-9) * r, 1.0881)
    val c = math.cos(a); val s = math.sin(a)
    (corr, im) match {
      case ("xx", false) => c * c * c
      case ("xx", true)  => c * c * s * 25e-2
      case ("xy", false) => c * c * s * 125e-3
      case ("xy", true)  => c * s * s * 625e-4
      case ("yx", false) => c * s * s * 625e-4
      case ("yx", true)  => -(c * c * s) * 125e-3
      case ("yy", false) => c * c * c * 75e-2 + c * 25e-2
      case ("yy", true)  => c * c * s * 125e-3
      case other => throw new IllegalArgumentException(s"corr $other")
    }
  }

  /** Write the complex fixture cubes of the given correlations (casacore
    * Stokes ids, 9 = XX … 12 = YY) through the beam filename schema
    * (util/beams.py:212-313): `schema` contains `$(corr)`/`$(reim)`
    * placeholders, expanded per correlation into a (re, im) file pair —
    * the ingestion layout the reference's l_axis/m_axis beam loader
    * consumes, and the E-Jones ELEMENT cubes a MeqTrees beamset carries.
    * Same always-regenerate discipline as [[ensure]]. */
  def ensureCorrs(schema: String, corrTypes: Seq[Int])
      : Seq[(String, (String, String))] = {
    val names = Fits.beamFilenames(schema, corrTypes)
    for ((corr, (reP, imP)) <- names; (path, im) <- Seq((reP, false), (imP, true)))
      writeCube(path, corr, im)
    names
  }

  /** The full 4-correlation complex fixture (8 files), consumed by the
    * full-Jones beam term. */
  def ensureQuad(schema: String): Seq[(String, (String, String))] =
    ensureCorrs(schema, Seq(9, 10, 11, 12))

  /** The XX complex fixture pair; returns (rePath, imPath). */
  def ensurePair(schema: String): (String, String) = {
    val Seq((_, pair)) = ensureCorrs(schema, Seq(9))
    pair
  }

  /** The one voxel loop: the (corr, im) model of [[beamValueCorr]] over
    * the fixture grid, X fastest, written atomically into place. */
  private def writeCube(path: String, corr: String, im: Boolean): Unit = {
    val data = new Array[Double](NFreq * NPix * NPix)
    var i = 0
    for (f <- 0 until NFreq; y <- 0 until NPix; x <- 0 until NPix) {
      data(i) = beamValueCorr(corr, im, x, y, f); i += 1
    }
    val file = new File(path)
    val cards = headerCards
    val tmp = File.createTempFile("graft_beam_build", ".fits",
      file.getAbsoluteFile.getParentFile)
    Fits.write(tmp.getAbsolutePath, cards, data)
    java.nio.file.Files.move(tmp.toPath, file.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def headerCards: Seq[(String, String)] = Seq(
    "SIMPLE" -> "T",
    "BITPIX" -> "-64",
    "NAXIS" -> "3",
    "NAXIS1" -> NPix.toString,
    "NAXIS2" -> NPix.toString,
    "NAXIS3" -> NFreq.toString,
    "CTYPE1" -> "'X'",
    "CUNIT1" -> "'DEG'",
    "CRPIX1" -> (1 + NPix / 2).toString,
    "CRVAL1" -> "0.0",
    "CDELT1" -> CDeltDeg.toString,
    "CTYPE2" -> "'Y'",
    "CUNIT2" -> "'DEG'",
    "CRPIX2" -> (1 + NPix / 2).toString,
    "CRVAL2" -> "0.0",
    "CDELT2" -> CDeltDeg.toString,
    "CTYPE3" -> "'FREQ'",
    "CRPIX3" -> "1",
    "CRVAL3" -> "8.56E8",
    "CDELT3" -> "2.14E8") ++
    (1 to NFreq).map(k => s"GFREQ$k" -> freq(k - 1).toString)

  /** Write the fixture. ALWAYS regenerated and atomically moved into
    * place: trusting a pre-existing /tmp file would let a stale cube from
    * an older code revision (or a torn concurrent write) silently feed
    * r16 values that no longer match the oracle's closed form. Contents
    * are deterministic, so concurrent writers converge on identical
    * bytes and the rename is safe either way. */
  def ensure(path: String): String = {
    writeCube(path, "xx", im = false)
    path
  }

  /** Default fixture location (world-writable tmp; the name carries the
    * layout so a geometry change can never collide with an old file). */
  def defaultPath: String =
    new File(System.getProperty("java.io.tmpdir"),
      s"graft_beam_fixture_${NPix}x${NPix}x$NFreq.fits").getAbsolutePath

  /** Default filename schema for the complex pair (expands to
    * `graft_beam_cx_<layout>_xx_re.fits` / `..._im.fits`). */
  def defaultSchema: String =
    new File(System.getProperty("java.io.tmpdir"),
      s"graft_beam_cx_${NPix}x${NPix}x${NFreq}_$$(corr)_$$(reim).fits")
      .getAbsolutePath

  /** Default filename schema for the full-Jones quad (8 files). */
  def defaultQuadSchema: String =
    new File(System.getProperty("java.io.tmpdir"),
      s"graft_beam_quad_${NPix}x${NPix}x${NFreq}_$$(corr)_$$(reim).fits")
      .getAbsolutePath
}
