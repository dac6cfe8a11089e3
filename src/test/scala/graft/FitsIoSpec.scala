package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.{BeamFixture, Fits}
import java.io.File
import java.nio.file.Files

/** Pure-JVM FITS beam-cube I/O (util/beams.py:47-139 layout). */
class FitsIoSpec extends AnyFunSuite {

  private def tmpFits(name: String): String = {
    val f = File.createTempFile(s"fits_$name", ".fits")
    f.delete(); f.getAbsolutePath
  }

  test("write → read round-trips header and data bit-exactly") {
    val path = tmpFits("rt")
    val data = Array.tabulate(2 * 3 * 4)(i => ((i * 7) % 13 - 6) / 16.0)
    Fits.write(path, Seq(
      "SIMPLE" -> "T", "BITPIX" -> "-64", "NAXIS" -> "3",
      "NAXIS1" -> "4", "NAXIS2" -> "3", "NAXIS3" -> "2",
      "CTYPE1" -> "'X'", "CTYPE2" -> "'Y'", "CTYPE3" -> "'FREQ'",
      "CRVAL3" -> "1.5E9 / reference frequency"), data)
    val hdu = Fits.read(path)
    assert(hdu.naxis === Seq(4, 3, 2))
    assert(hdu.data.toSeq === data.toSeq)
    // inline comment stripped from the value
    assert(hdu.num("CRVAL3").contains(1.5e9))
    assert(new File(path).length() % 2880 === 0, "FITS blocks must be 2880-aligned")
    new File(path).delete()
  }

  test("beam fixture: DEG axes become radians, GFREQ overrides the regular grid") {
    val path = tmpFits("beam")
    BeamFixture.ensure(path)
    val cube = Fits.beamCube(path)
    assert(cube.npixX === BeamFixture.NPix && cube.nFreq === BeamFixture.NFreq)
    // centre pixel sits at l = 0; neighbours at ±0.375° in radians
    assert(cube.lGrid(4) === 0.0)
    assert(math.abs(cube.lGrid(5) - 0.375 * math.Pi / 180.0) < 1e-15)
    assert(cube.lGrid(3) === -cube.lGrid(5))
    // irregular grid: the jittered interior frequencies, exact endpoints
    assert(cube.freqs(0) === 856e6 && cube.freqs(4) === 856e6 + 4 * 214e6)
    assert(cube.freqs(1) === 856e6 + 214e6 + 1e5, "GFREQ jitter not applied")
    // data layout: value(x, y, f) must reproduce the generator
    for (f <- 0 until cube.nFreq; y <- 0 until cube.npixY; x <- 0 until cube.npixX)
      assert(cube.value(x, y, f) === BeamFixture.beamValueCorr("xx", false, x, y, f),
        s"value mismatch at ($x, $y, $f)")
    // beam is radially symmetric and peaks at centre — an axis flip or
    // transposed layout would break either property
    assert(math.abs(cube.value(4, 4, 0) - 1.0) < 1e-12)
    assert(cube.value(0, 4, 2) === cube.value(4, 0, 2))
    assert(cube.value(0, 4, 2) < cube.value(3, 4, 2))
    new File(path).delete()
  }

  test("complex fixture pair: schema expansion, im model, r4 flip margins") {
    val (reP, imP) = BeamFixture.ensurePair(BeamFixture.defaultSchema)
    assert(reP.endsWith("_xx_re.fits") && imP.endsWith("_xx_im.fits"))
    val re = Fits.beamCube(reP); val im = Fits.beamCube(imP)
    assert(re.nFreq === im.nFreq && re.npixX === im.npixX)
    // x12 hashes Det.r4(file value) against the oracle's r4 of a DuckDB
    // libm recompute; a flip needs a value within cross-engine noise
    // (~1e-12 at this magnitude) of a .5·1e-4 bucket boundary. Measure
    // the global minimum margin over BOTH cubes — the precondition the
    // CATEGORICAL RULE requires for class-(d) rounded surfaces.
    var minMargin = Double.MaxValue
    for (cube <- Seq(re, im); v <- cube.data) {
      val scaled = math.abs(v) * 1e4
      val d = math.abs(scaled - math.floor(scaled) - 0.5)
      minMargin = math.min(minMargin, d)
    }
    assert(minMargin > 1e-9,
      s"an r4 bucket boundary sits within noise of a voxel value: $minMargin")
  }

  test("float32 data reads via widening; unsupported BITPIX rejected") {
    val path = tmpFits("f32")
    // hand-write a BITPIX=-32 file: header via Fits.write would force -64
    // data, so write the header cards + float payload manually
    val header = new StringBuilder
    def card(k: String, v: String): Unit =
      header.append((k.padTo(8, ' ') + "= " + v).padTo(80, ' '))
    card("SIMPLE", "T"); card("BITPIX", "-32"); card("NAXIS", "1")
    card("NAXIS1", "3")
    header.append("END".padTo(80, ' '))
    while (header.length % 2880 != 0) header.append(" " * 80)
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(path))
    out.writeBytes(header.result())
    Seq(0.5f, -0.25f, 2.0f).foreach(out.writeFloat)
    out.write(new Array[Byte](2880 - 12))
    out.close()
    val hdu = Fits.read(path)
    assert(hdu.data.toSeq === Seq(0.5, -0.25, 2.0))
    new File(path).delete()

    val bad = tmpFits("i16")
    Files.write(new File(bad).toPath, {
      val h = new StringBuilder
      h.append(("SIMPLE".padTo(8, ' ') + "= T").padTo(80, ' '))
      h.append(("BITPIX".padTo(8, ' ') + "= 16").padTo(80, ' '))
      h.append(("NAXIS".padTo(8, ' ') + "= 1").padTo(80, ' '))
      h.append(("NAXIS1".padTo(8, ' ') + "= 1").padTo(80, ' '))
      h.append("END".padTo(80, ' '))
      while (h.length % 2880 != 0) h.append(" " * 80)
      h.result().getBytes("US-ASCII")
    })
    assertThrows[IllegalArgumentException](Fits.read(bad))
    new File(bad).delete()
  }

  test("beam filename schema expands per correlation and re/im (util/beams.py:259-313)") {
    // linear feeds XX,XY,YX,YY = casacore Stokes ids 9..12
    val linear = Fits.beamFilenames("beam_$(corr)_$(reim).fits", Seq(9, 10, 11, 12))
    assert(linear.map(_._1) === Seq("xx", "xy", "yx", "yy"))
    assert(linear.head._2 === (("beam_xx_re.fits", "beam_xx_im.fits")))
    assert(linear.last._2 === (("beam_yy_re.fits", "beam_yy_im.fits")))

    // uppercase placeholders upcase the substitution, not the schema text
    val upper = Fits.beamFilenames("beam_$(CORR)_$(REIM).fits", Seq(5, 8))
    assert(upper === Seq(
      "rr" -> (("beam_RR_RE.fits", "beam_RR_IM.fits")),
      "ll" -> (("beam_LL_RE.fits", "beam_LL_IM.fits"))))

    // unbraced $corr form and the $$ escape
    val bare = Fits.beamFilenames("$$b_$corr.$reim", Seq(9))
    assert(bare === Seq("xx" -> (("$b_xx.re", "$b_xx.im"))))

    // unknown placeholder and unknown stokes id both reject
    assertThrows[IllegalArgumentException](
      Fits.beamFilenames("beam_$(nope).fits", Seq(9)))
    assertThrows[IllegalArgumentException](
      Fits.beamFilenames("beam_$(corr)_$(reim).fits", Seq(99)))
  }

  test("BeamFactory writes MeqTrees-compliant cubes through the fits sink; BeamCubeTerm consumes them") {
    // the beam_factory.py port (testing/beam_factory.py:37-165): 8 files
    // (4 linear corrs x re/im) via the DataFrame write path with the
    // `cards` metadata option, then the staged-term loader reads the pair
    // back WITHOUT regeneration — file -> term -> sampled Jones
    val spark = TestSpark.spark
    import graft.io.BeamFactory
    val dir = Files.createTempDirectory("beam_factory").toString
    val schema = s"$dir/test_beam_$$(corr)_$$(reim).fits"
    val names = BeamFactory.write(spark, schema, "linear", npix = 9, nfreq = 5)
    assert(names.map(_._1) === Seq("xx", "xy", "yx", "yy"))
    val g = BeamFactory.Geometry(9, 5)
    // every file exists, parses, and carries the factory metadata + model
    for ((_, (reP, imP)) <- names; f <- Seq(reP, imP)) {
      val hdu = Fits.read(f)
      assert(hdu.naxis === Seq(9, 9, 5))
      assert(hdu.str("CTYPE1").contains("X") && hdu.str("CUNIT1").contains("DEG"))
      assert(hdu.num("EQUINOX").contains(2000.0))
      assert(hdu.num("CRPIX1").contains(5.0))
      for (k <- 1 to 5)
        assert(hdu.num(s"GFREQ$k").contains(g.gfreq(k - 1)), s"GFREQ$k")
      // the Westerbork model round-trips bit-exactly through the sink
      for (fp <- 0 until 5; y <- 0 until 9; x <- 0 until 9)
        assert(hdu.data((fp * 9 + y) * 9 + x) === g.beamValue(x, y, fp))
    }
    // npix must be odd, as the reference's ValueError demands
    intercept[IllegalArgumentException] {
      BeamFactory.Geometry(8, 5)
    }
    // spark.read.format("fits") sees the same voxels
    val (reP, _) = names.head._2
    val viaDs = spark.read.format("fits").load(reP)
    assert(viaDs.count() === 5L * 9 * 9)
    import org.apache.spark.sql.functions._
    val centre = viaDs.filter(col("plane") === 0 && col("y") === 4 && col("x") === 4)
      .select("value").head.getDouble(0)
    assert(centre === 1.0) // r = 0 -> cos(0)^3
    // BeamCubeTerm round-trip: regenerate=false consumes the factory pair
    import graft.rime.BeamCubeTerm
    val term = BeamCubeTerm(schema, lmZoom = 1.0, regenerate = false)
    import spark.implicits._
    val probes = Seq(
      (0L, 0L, 0.0, 0.0, g.gfreq(0)),                       // centre voxel, first plane
      (1L, 0L, 0.0, 0.0, (g.gfreq(1) + g.gfreq(2)) / 2.0),  // centre, between planes
      (2L, 0L, math.toRadians(g.lDeg(6)), 0.0, g.gfreq(0))) // off-centre pixel
      .toDF("src_id", "chan", "l", "m", "freq")
    // the probes are their own (src_id, chan) dimension frame
    val staged = term.stage(probes, "p", () => probes)
      .select("l", "freq", "bce_xx_re", "bce_xx_im")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // centre of the beam is exactly 1 at every frequency (r = 0), and the
    // factory writes the SAME cube to re and im, so both components are 1
    val (cRe, cIm) = staged((0.0, g.gfreq(0)))
    assert(math.abs(cRe - 1.0) < 1e-12 && math.abs(cIm - 1.0) < 1e-12)
    val (bRe, bIm) = staged((0.0, (g.gfreq(1) + g.gfreq(2)) / 2.0))
    assert(math.abs(bRe - 1.0) < 1e-12 && math.abs(bIm - 1.0) < 1e-12)
    // off-centre: the staged blend lands on (within fp-division slack of)
    // the voxel value of pixel x=6 on the first plane
    val expect = math.rint(g.beamValue(6, 4, 0) * 1e4) / 1e4 // the r4 voxel
    val (oRe, _) = staged.collect {
      case ((l, f), v) if l != 0.0 && f == g.gfreq(0) => v }.head
    assert(math.abs(oRe - expect) < 1e-6, s"$oRe vs $expect")
  }
}
