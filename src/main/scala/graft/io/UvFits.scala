package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}

/** Pure-JVM UVFITS (FITS random-groups) I/O — the interchange format
  * radio-astronomy archives ship alongside CASA Measurement Sets (AIPS
  * Memo 117; `importuvfits`/`exportuvfits` in casa). This is the second
  * real on-disk ingestion path next to [[MsDataset]]: a user with a
  * UVFITS archive file reads visibilities straight into the engine with
  * `spark.read.format("uvfits")`, no external libraries.
  *
  * Random-groups layout (the pre-table FITS convention UVFITS uses):
  * NAXIS1 = 0 signals groups; GROUPS = T; each of GCOUNT groups carries
  * PCOUNT parameters (PTYPEn names them — UU, VV, WW in SECONDS,
  * BASELINE = 256·ant1 + ant2, DATE in Julian days; PSCALn/PZEROn apply
  * `raw·scale + zero`, and a REPEATED PTYPE (the split-DATE convention)
  * sums its scaled occurrences) followed by the regular-axes data array
  * (NAXIS2.. — canonically COMPLEX(re, im, weight) × STOKES × FREQ).
  * BSCALE/BZERO apply to data elements. Only BITPIX −32/−64 (the float
  * forms every modern writer emits) are supported.
  */
object UvFits {

  final case class RandomGroups(cards: Map[String, String],
                                ptypes: Seq[String],
                                shape: Seq[Int], // NAXIS2..N, X-fastest
                                params: Array[Array[Double]], // [group][param] SCALED
                                data: Array[Double]) { // groups-major
    def gcount: Int = params.length
    def groupSize: Int = shape.product
    def num(key: String): Option[Double] = cards.get(key).map(_.toDouble)

    /** Scaled value of a named parameter, summing repeated occurrences
      * (the split-DATE precision convention). */
    def param(g: Int, name: String): Double = {
      val idxs = ptypes.zipWithIndex.collect {
        case (t, i) if t.equalsIgnoreCase(name) => i
      }
      require(idxs.nonEmpty, s"uvfits: no group parameter '$name' in $ptypes")
      idxs.map(params(g)(_)).sum
    }

    def datum(g: Int, flat: Int): Double = data(g * groupSize + flat)
  }

  def readGroups(path: String): RandomGroups = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    try {
      val cards = Fits.readHeader(in)
      val bitpix = cards("BITPIX").trim.toInt
      val nAxes = cards("NAXIS").trim.toInt
      val naxis = (1 to nAxes).map(i => cards(s"NAXIS$i").trim.toInt)
      require(naxis.headOption.contains(0),
        s"not a random-groups HDU: NAXIS1 = ${naxis.headOption}")
      require(cards.get("GROUPS").exists(_.startsWith("T")),
        "not a random-groups HDU: GROUPS != T")
      val pcount = cards("PCOUNT").trim.toInt
      val gcount = cards("GCOUNT").trim.toInt
      val shape = naxis.drop(1)
      // PTYPEn may repeat (split DATE); collect in order, with scaling
      val ptypes = (1 to pcount).map(i => cards.getOrElse(s"PTYPE$i", s"P$i"))
      val pscal = (1 to pcount).map(i =>
        cards.get(s"PSCAL$i").map(_.toDouble).getOrElse(1.0))
      val pzero = (1 to pcount).map(i =>
        cards.get(s"PZERO$i").map(_.toDouble).getOrElse(0.0))
      val bscale = cards.get("BSCALE").map(_.toDouble).getOrElse(1.0)
      val bzero = cards.get("BZERO").map(_.toDouble).getOrElse(0.0)
      val gsize = shape.product
      val totalL = gcount.toLong * (pcount + gsize)
      require(totalL <= Int.MaxValue.toLong / 8,
        s"uvfits too large for one JVM read: $totalL elements")
      def rd(): Double = bitpix match {
        case -32 => in.readFloat().toDouble
        case -64 => in.readDouble()
        case other => throw new IllegalArgumentException(
          s"BITPIX $other not supported for uvfits (only -32/-64)")
      }
      val params = Array.ofDim[Array[Double]](gcount)
      val data = new Array[Double](gcount * gsize)
      var g = 0
      while (g < gcount) {
        val p = new Array[Double](pcount)
        var i = 0
        while (i < pcount) { p(i) = rd() * pscal(i) + pzero(i); i += 1 }
        params(g) = p
        var j = 0
        while (j < gsize) {
          data(g * gsize + j) = rd() * bscale + bzero; j += 1
        }
        g += 1
      }
      RandomGroups(cards, ptypes, shape, params, data)
    } finally in.close()
  }

  /** Write a BITPIX −64 random-groups HDU (the export face + fixture
    * writer): `params` are the RAW parameter values (caller applies its
    * own PSCAL/PZERO bookkeeping in the cards), `data` groups-major. */
  def writeGroups(path: String, cards: Seq[(String, String)],
                  pcount: Int, params: Array[Array[Double]],
                  data: Array[Double], groupSize: Int): Unit = {
    require(params.forall(_.length == pcount), "param row width != PCOUNT")
    require(data.length == params.length * groupSize, "data size mismatch")
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      Fits.writeHeader(out, cards)
      var g = 0
      while (g < params.length) {
        params(g).foreach(out.writeDouble)
        var j = 0
        while (j < groupSize) { out.writeDouble(data(g * groupSize + j)); j += 1 }
        g += 1
      }
      Fits.padData(out, params.length.toLong * (pcount + groupSize) * 8)
    } finally out.close()
  }

  /** Decode BASELINE = 256·ant1 + ant2 (+ 0.01·subarray). */
  def decodeBaseline(b: Double): (Int, Int) = {
    val bi = math.floor(b + 0.5e-2).toInt
    (bi / 256, bi % 256)
  }
}
