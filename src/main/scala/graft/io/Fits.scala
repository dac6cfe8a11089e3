package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import scala.collection.mutable

/** Minimal pure-JVM FITS primary-HDU I/O for MeqTrees-style beam cubes
  * (the layout africanus reads in util/beams.py:47-139 and generates in
  * testing/beam_factory.py:37-165): 2880-byte header blocks of 80-char
  * cards, big-endian IEEE data, axes described by CTYPEn/CRPIXn/CRVALn/
  * CDELTn/CUNITn with optional irregular per-point G<CTYPE><k> grids
  * (GFREQ1..N), degree axes converted to radians.
  *
  * The container ships no astronomy libraries, so this reader IS the
  * ingestion path — not a stub. Only what beam cubes need is implemented:
  * primary HDU, BITPIX -32/-64, no scaling keywords.
  */
object Fits {

  final case class Hdu(cards: Map[String, String], naxis: Seq[Int],
                       bitpix: Int, data: Array[Double]) {
    def num(key: String): Option[Double] = cards.get(key).map(_.toDouble)
    def str(key: String): Option[String] = cards.get(key)
  }

  private val Block = 2880

  /** Parse a card's value portion: strip inline comment (a `/` outside
    * quotes), unquote strings, trim. */
  private def cardValue(v: String): String = {
    var inQ = false
    val sb = new StringBuilder
    var done = false
    for (c <- v if !done) {
      if (c == '\'') { inQ = !inQ; sb += c }
      else if (c == '/' && !inQ) done = true
      else sb += c
    }
    val t = sb.result().trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1).trim
    else t
  }

  /** Read header cards up to END (a block without END continues the
    * header), consuming whole 2880-byte blocks so `in` is left at the
    * data. A repeated key keeps its last value. */
  private[io] def readHeader(in: DataInputStream): Map[String, String] = {
    val cards = mutable.LinkedHashMap.empty[String, String]
    var ended = false
    while (!ended) {
      val block = new Array[Byte](Block)
      in.readFully(block)
      var off = 0
      while (off < Block && !ended) {
        val card = new String(block, off, 80, "US-ASCII")
        val key = card.substring(0, 8).trim
        if (key == "END") ended = true
        else if (key.nonEmpty && card.length > 10 && card.charAt(8) == '=')
          cards(key) = cardValue(card.substring(10))
        off += 80
      }
    }
    cards.toMap
  }

  /** Write the ordered header cards (key, value already formatted), END,
    * and blank cards up to the 2880-byte block boundary. */
  private[io] def writeHeader(out: DataOutputStream,
                              cards: Seq[(String, String)]): Unit = {
    val sb = new StringBuilder
    cards.foreach { case (k, v) =>
      val c = (k.padTo(8, ' ') + "= " + v).padTo(80, ' ')
      require(c.length == 80, s"card overflow: $k")
      sb.append(c)
    }
    sb.append("END".padTo(80, ' '))
    while (sb.length % Block != 0) sb.append(" " * 80)
    out.writeBytes(sb.result())
  }

  /** Zero-pad `dataBytes` of written data to the block boundary (Long
    * arithmetic: an Int byte count overflows past 2^28 doubles). */
  private[io] def padData(out: DataOutputStream, dataBytes: Long): Unit = {
    val rem = (dataBytes % Block).toInt
    if (rem != 0) out.write(new Array[Byte](Block - rem))
  }

  def read(path: String): Hdu = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    try {
      val cards = readHeader(in)
      val bitpix = cards("BITPIX").trim.toInt
      val nAxes = cards("NAXIS").trim.toInt
      val naxis = (1 to nAxes).map(i => cards(s"NAXIS$i").trim.toInt)
      // element count in Long first: a cube over ~2^31 elements would
      // silently overflow Int and allocate a wrong-sized (or negative)
      // array
      val countL = naxis.map(_.toLong).product
      require(countL > 0 && countL <= Int.MaxValue.toLong,
        s"FITS data too large for a JVM array: ${naxis.mkString("x")} = $countL elements")
      val count = countL.toInt
      val data = new Array[Double](count)
      bitpix match {
        case -64 => var i = 0; while (i < count) { data(i) = in.readDouble(); i += 1 }
        case -32 => var i = 0; while (i < count) { data(i) = in.readFloat().toDouble; i += 1 }
        case other => throw new IllegalArgumentException(
          s"BITPIX $other not supported (only -32/-64 float data)")
      }
      Hdu(cards, naxis, bitpix, data)
    } finally in.close()
  }

  /** Write a primary HDU with the given ordered header cards (key, value
    * already formatted) and big-endian double data. */
  def write(path: String, cards: Seq[(String, String)],
            data: Array[Double]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      writeHeader(out, cards)
      data.foreach(out.writeDouble)
      padData(out, data.length.toLong * 8)
    } finally out.close()
  }

  /** A beam cube with its axis grids resolved per util/beams.py:47-139:
    * value layout is data(f)(y)(x) flattened C-style (NAXIS1 = X fastest);
    * `l`/`m` grids in RADIANS (DEG converted), `freqs` from GFREQk cards
    * when a complete irregular grid is present, else the regular
    * (i − (CRPIX−1))·CDELT + CRVAL formula. */
  final case class BeamCube(lGrid: Array[Double], mGrid: Array[Double],
                            freqs: Array[Double], data: Array[Double]) {
    def npixX: Int = lGrid.length
    def npixY: Int = mGrid.length
    def nFreq: Int = freqs.length
    def value(x: Int, y: Int, f: Int): Double =
      data(f * npixY * npixX + y * npixX + x)
  }

  def beamCube(path: String): BeamCube = {
    val hdu = read(path)
    require(hdu.naxis.length == 3, s"beam cube needs NAXIS=3, got ${hdu.naxis}")
    val byType = (1 to 3).map { i =>
      hdu.str(s"CTYPE$i").getOrElse(
        throw new IllegalArgumentException(s"missing CTYPE$i")) -> i
    }.toMap
    def axisGrid(i: Int): Array[Double] = {
      val n = hdu.naxis(i - 1)
      val crpix = hdu.num(s"CRPIX$i").getOrElse(1.0)
      val crval = hdu.num(s"CRVAL$i").getOrElse(0.0)
      val cdelt = hdu.num(s"CDELT$i").getOrElse(1.0)
      val deg = hdu.str(s"CUNIT$i").exists(_.equalsIgnoreCase("DEG"))
      Array.tabulate(n) { k =>
        val v = (k - (crpix - 1.0)) * cdelt + crval
        if (deg) v * (math.Pi / 180.0) else v
      }
    }
    def irregular(i: Int, ctype: String): Option[Array[Double]] = {
      val n = hdu.naxis(i - 1)
      val vals = (1 to n).map(k => hdu.num(s"G$ctype$k"))
      if (vals.forall(_.isDefined)) Some(vals.map(_.get).toArray) else None
    }
    val xi = byType.collectFirst { case (t, i) if t.startsWith("X") || t.startsWith("L") => i }
      .getOrElse(throw new IllegalArgumentException("no X/L axis"))
    val yi = byType.collectFirst { case (t, i) if t.startsWith("Y") || t.startsWith("M") => i }
      .getOrElse(throw new IllegalArgumentException("no Y/M axis"))
    val fi = byType.getOrElse("FREQ",
      throw new IllegalArgumentException("no FREQ axis"))
    val freqs = irregular(fi, "FREQ").getOrElse(axisGrid(fi))
    BeamCube(axisGrid(xi), axisGrid(yi), freqs, hdu.data)
  }

  /** Beam filename-schema expansion (util/beams.py:212-313): a schema like
    * `beam_$(corr)_$(reim).fits` expands, per correlation id, to the
    * (real, imaginary) filename pair. Supported placeholders: `$(corr)` /
    * `$corr` (lowercase correlation), `$(CORR)` (uppercase), `$(reim)` /
    * `$reim` ("re"/"im"), `$(REIM)` ("RE"/"IM"); `$$` escapes a literal
    * dollar. Correlation ids resolve through the casacore Stokes
    * enumeration (casa_types.py:4-61) and are lowercased for the map key.
    */
  def beamFilenames(schema: String, corrTypes: Seq[Int]): Seq[(String, (String, String))] = {
    val token = """\$(?:(\$)|\(([A-Za-z_][A-Za-z0-9_]*)\)|([A-Za-z_][A-Za-z0-9_]*))""".r
    def substitute(corr: String, reim: String): String =
      token.replaceAllIn(schema, m => {
        val name = if (m.group(1) != null) "$$"
                   else if (m.group(2) != null) m.group(2)
                   else m.group(3)
        java.util.regex.Matcher.quoteReplacement(name match {
          case "$$"   => "$"
          case "corr" => corr.toLowerCase
          case "CORR" => corr.toUpperCase
          case "reim" => reim.toLowerCase
          case "REIM" => reim.toUpperCase
          case other => throw new IllegalArgumentException(
            s"Invalid filename schema '$schema': unknown placeholder '$other'. " +
            "Use forms such as 'beam_$(corr)_$(reim).fits' or 'beam_$(CORR)_$(REIM).fits'")
        })
      })
    corrTypes.map { id =>
      val name = graft.functions.StokesConvert.StokesTypes.lift(id)
        .getOrElse(throw new IllegalArgumentException(s"Unknown Stokes ID $id"))
      name.toLowerCase -> (substitute(name, "re"), substitute(name, "im"))
    }
  }
}
