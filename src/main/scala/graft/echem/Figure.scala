package graft.echem

import java.util.Locale

/** The reference's electrochemistry figure
  * (`dags/my_dag.py:172-183`: matplotlib scatter of (φ, σₑ), red
  * dotted deg-1 fit, capacitance/PZC annotations, material title)
  * re-expressed DEPENDENCY-FREE in both of the reference's artifact
  * forms:
  *
  *  - [[echemSvg]] — a deterministic SVG string (every number
  *    formats through Locale.ROOT), byte-GOLDEN-testable;
  *  - [[echemPng]] — the RASTER twin (the reference's actual
  *    `plt.savefig` output format), drawn through JDK-only headless
  *    AWT onto the SAME layout (shared scale/tick math, so the two
  *    artifacts cannot drift) and encoded with `javax.imageio`.
  *    Pixel placement is deterministic (antialiasing off, integer
  *    geometry); the spec pins structural pixel facts and
  *    byte-determinism within a JVM rather than cross-toolkit byte
  *    goldens — the same stance matplotlib PNGs require.
  *
  * Rendering is pure driver-side assembly over the final,
  * already-aggregated handful of points — the terminal human-facing
  * artifact, same as the reference's `plt.savefig`.
  */
object Figure {

  private val W = 500.0
  private val H = 300.0
  // plot box (matplotlib-ish margins for the 5x3in reference figure)
  private val X0 = 72.0
  private val X1 = 484.0
  private val Y0 = 34.0 // top
  private val Y1 = 252.0 // bottom

  private def fmt(v: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** XML-escape free text (the material title comes from a filename
    * that may carry '&'/'<' — unescaped it breaks the whole SVG). */
  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Shared scale/tick layout — ONE source of geometry for the SVG
    * and PNG twins. */
  private final case class Layout(xLo: Double, xHi: Double, yLo: Double, yHi: Double,
                                  b: Double, xT: Seq[Double], yT: Seq[Double],
                                  xd: Int, yd: Int) {
    def sx(x: Double): Double = X0 + (x - xLo) / (xHi - xLo) * (X1 - X0)
    def sy(y: Double): Double = Y1 - (y - yLo) / (yHi - yLo) * (Y1 - Y0)
  }

  private def layoutOf(points: Seq[(Double, Double)], capacitance: Double): Layout = {
    require(points.nonEmpty, "echem figure needs at least one point")
    val xs = points.map(_._1)
    val ys = points.map(_._2)
    // fit intercept from the drawn slope: b = ȳ − m·x̄ (the same
    // least-squares line the reference draws via np.polyfit)
    val xbar = xs.sum / xs.length
    val ybar = ys.sum / ys.length
    val b = ybar - capacitance * xbar

    require(points.forall(p => java.lang.Double.isFinite(p._1) &&
        java.lang.Double.isFinite(p._2)),
      s"figure points must be finite, got ${points.filterNot(p =>
        java.lang.Double.isFinite(p._1) && java.lang.Double.isFinite(p._2))}")
    def padRange(lo: Double, hi: Double): (Double, Double) = {
      val span = if (hi - lo > 0) hi - lo else math.max(math.abs(hi), 1.0)
      (lo - 0.08 * span, hi + 0.08 * span)
    }
    val (xLo, xHi) = padRange(xs.min, xs.max)
    val fitYs = Seq(capacitance * xLo + b, capacitance * xHi + b)
    val (yLo, yHi) = padRange(math.min(ys.min, fitYs.min), math.max(ys.max, fitYs.max))

    def ticks(lo: Double, hi: Double): Seq[Double] = {
      val rawStep = (hi - lo) / 4.0
      val mag = math.pow(10, math.floor(math.log10(rawStep)))
      val step = Seq(1.0, 2.0, 2.5, 5.0, 10.0).map(_ * mag).find(_ >= rawStep).get
      val first = math.ceil(lo / step) * step
      // COUNT-based, not Iterator.iterate: when step is below the
      // ulp of `first` (points one ulp apart), first + step rounds
      // back to first and the iterate/takeWhile form never
      // terminates; i*step + first both terminates and avoids FP
      // accumulation. step >= rawStep bounds the count at 5; the
      // min(8) is a belt against any further FP surprise.
      val n = math.max(1,
        math.min(8, math.floor((hi + 1e-12 - first) / step).toInt + 1))
      (0 until n).map(i => first + i * step)
    }
    // smallest decimal count that round-trips every tick (a 2.5-step
    // family needs one MORE digit than its magnitude suggests: %.0f
    // would label the 2.5 tick "3")
    def tickDigits(ts: Seq[Double]): Int =
      if (ts.isEmpty) 2
      else (0 to 6).find { d =>
        ts.forall(t => math.abs(fmt(t, d).toDouble - t) < 1e-9 * math.max(1.0, math.abs(t)))
      }.getOrElse(6)

    val xT = ticks(xLo, xHi)
    val yT = ticks(yLo, yHi)
    Layout(xLo, xHi, yLo, yHi, b, xT, yT, tickDigits(xT), tickDigits(yT))
  }

  /** σₑ-vs-φ figure for one material.
    *
    * @param title       material key (the reference's filename title)
    * @param points      (pot, rhoe) series, any order; ≥ 2 distinct pots
    * @param pzc         annotated PZC, V vs SHE
    * @param capacitance annotated + drawn fit slope, µF/cm²
    * @return complete standalone SVG document
    */
  def echemSvg(title: String, points: Seq[(Double, Double)],
               pzc: Double, capacitance: Double): String = {
    val l = layoutOf(points, capacitance)
    import l.{sx, sy}
    val Layout(xLo, xHi, _, _, b, xT, yT, xd, yd) = l

    val sb = new StringBuilder
    sb ++= s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 ${W.toInt} ${H.toInt}" font-family="sans-serif">\n"""
    sb ++= s"""<rect width="${W.toInt}" height="${H.toInt}" fill="white"/>\n"""
    // axes box
    sb ++= s"""<rect x="${fmt(X0, 1)}" y="${fmt(Y0, 1)}" width="${fmt(X1 - X0, 1)}" height="${fmt(Y1 - Y0, 1)}" fill="none" stroke="black" stroke-width="1"/>\n"""
    // ticks + labels (labelsize 13 in the reference)
    xT.foreach { t =>
      val x = fmt(sx(t), 1)
      sb ++= s"""<line x1="$x" y1="${fmt(Y1, 1)}" x2="$x" y2="${fmt(Y1 + 5, 1)}" stroke="black"/>\n"""
      sb ++= s"""<text x="$x" y="${fmt(Y1 + 18, 1)}" font-size="13" text-anchor="middle">${fmt(t, xd)}</text>\n"""
    }
    yT.foreach { t =>
      val y = fmt(sy(t), 1)
      sb ++= s"""<line x1="${fmt(X0 - 5, 1)}" y1="$y" x2="${fmt(X0, 1)}" y2="$y" stroke="black"/>\n"""
      sb ++= s"""<text x="${fmt(X0 - 8, 1)}" y="$y" font-size="13" text-anchor="end" dominant-baseline="middle">${fmt(t, yd)}</text>\n"""
    }
    // axis labels (fontsize 14) + title (13), the reference's text
    sb ++= s"""<text x="${fmt((X0 + X1) / 2, 1)}" y="${fmt(H - 6, 1)}" font-size="14" text-anchor="middle">&#x3C6; (V vs. SHE)</text>\n"""
    sb ++= s"""<text x="14" y="${fmt((Y0 + Y1) / 2, 1)}" font-size="14" text-anchor="middle" transform="rotate(-90 14 ${fmt((Y0 + Y1) / 2, 1)})">&#x3C3;&#x2091; (&#xB5;C/cm&#xB2;)</text>\n"""
    sb ++= s"""<text x="${fmt((X0 + X1) / 2, 1)}" y="${fmt(Y0 - 10, 1)}" font-size="13" text-anchor="middle">${esc(title)}</text>\n"""
    // red dotted fit line (':' c='r')
    sb ++= s"""<line x1="${fmt(sx(xLo), 1)}" y1="${fmt(sy(capacitance * xLo + b), 1)}" x2="${fmt(sx(xHi), 1)}" y2="${fmt(sy(capacitance * xHi + b), 1)}" stroke="red" stroke-width="1.5" stroke-dasharray="2,4"/>\n"""
    // black circles ('o' c='k'), sorted for determinism
    points.sortBy(p => (p._1, p._2)).foreach { case (x, y) =>
      sb ++= s"""<circle cx="${fmt(sx(x), 1)}" cy="${fmt(sy(y), 1)}" r="4" fill="black"/>\n"""
    }
    // annotations at axes-fraction (0.1, 0.9) and (0.1, 0.8), red 12pt
    def axesFrac(fx: Double, fy: Double): (Double, Double) =
      (X0 + fx * (X1 - X0), Y1 - fy * (Y1 - Y0))
    val (ax1, ay1) = axesFrac(0.1, 0.9)
    val (ax2, ay2) = axesFrac(0.1, 0.8)
    sb ++= s"""<text x="${fmt(ax1, 1)}" y="${fmt(ay1, 1)}" font-size="12" fill="red">Capacitance: ${fmt(capacitance, 2)} &#xB5;F/cm&#xB2;</text>\n"""
    sb ++= s"""<text x="${fmt(ax2, 1)}" y="${fmt(ay2, 1)}" font-size="12" fill="red">PZC: ${fmt(pzc, 3)} V vs. SHE</text>\n"""
    sb ++= "</svg>\n"
    sb.toString
  }

  /** Raster twin of [[echemSvg]] — the reference's actual artifact
    * format (`plt.savefig` PNG, `dags/my_dag.py:183`). Identical
    * geometry (shared [[layoutOf]]), JDK-only headless AWT drawing
    * with antialiasing OFF so pixel placement is integer-exact, PNG
    * encoding via `javax.imageio`. The subscript glyphs use plain
    * ASCII fallbacks ("sigma_e") because physical-font coverage of
    * U+2091 is not guaranteed in a headless container — the
    * annotation TEXT (values, units) is identical. */
  def echemPng(title: String, points: Seq[(Double, Double)],
               pzc: Double, capacitance: Double): Array[Byte] = {
    if (System.getProperty("java.awt.headless") == null)
      System.setProperty("java.awt.headless", "true")
    val l = layoutOf(points, capacitance)
    import java.awt.{BasicStroke, Color, Font}
    import java.awt.geom.AffineTransform
    val img = new java.awt.image.BufferedImage(
      W.toInt, H.toInt, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(Color.WHITE)
      g.fillRect(0, 0, W.toInt, H.toInt)
      g.setColor(Color.BLACK)
      g.drawRect(X0.toInt, Y0.toInt, (X1 - X0).toInt, (Y1 - Y0).toInt)
      val tickFont = new Font(Font.SANS_SERIF, Font.PLAIN, 13)
      val labelFont = new Font(Font.SANS_SERIF, Font.PLAIN, 14)
      val annFont = new Font(Font.SANS_SERIF, Font.PLAIN, 12)
      g.setFont(tickFont)
      val fm = g.getFontMetrics
      l.xT.foreach { t =>
        val x = l.sx(t).toInt
        g.drawLine(x, Y1.toInt, x, (Y1 + 5).toInt)
        val s = fmt(t, l.xd)
        g.drawString(s, x - fm.stringWidth(s) / 2, (Y1 + 18).toInt)
      }
      l.yT.foreach { t =>
        val y = l.sy(t).toInt
        g.drawLine((X0 - 5).toInt, y, X0.toInt, y)
        val s = fmt(t, l.yd)
        g.drawString(s, (X0 - 8).toInt - fm.stringWidth(s), y + fm.getAscent / 2 - 1)
      }
      g.setFont(labelFont)
      val fml = g.getFontMetrics
      val xLabel = "phi (V vs. SHE)"
      g.drawString(xLabel, ((X0 + X1) / 2).toInt - fml.stringWidth(xLabel) / 2, (H - 6).toInt)
      val yLabel = "sigma_e (uC/cm2)"
      val saved = g.getTransform
      g.setTransform(AffineTransform.getRotateInstance(
        -math.Pi / 2, 14.0, (Y0 + Y1) / 2))
      g.drawString(yLabel, 14 - fml.stringWidth(yLabel) / 2, ((Y0 + Y1) / 2).toInt)
      g.setTransform(saved)
      g.setFont(tickFont)
      g.drawString(title, ((X0 + X1) / 2).toInt - fm.stringWidth(title) / 2, (Y0 - 10).toInt)
      // red dotted fit line (':' c='r')
      g.setColor(Color.RED)
      g.setStroke(new BasicStroke(1.5f, BasicStroke.CAP_BUTT, BasicStroke.JOIN_MITER,
        10f, Array(2f, 4f), 0f))
      g.drawLine(l.sx(l.xLo).toInt, l.sy(capacitance * l.xLo + l.b).toInt,
                 l.sx(l.xHi).toInt, l.sy(capacitance * l.xHi + l.b).toInt)
      g.setStroke(new BasicStroke(1f))
      // black circles ('o' c='k')
      g.setColor(Color.BLACK)
      points.sortBy(p => (p._1, p._2)).foreach { case (x, y) =>
        g.fillOval(l.sx(x).toInt - 4, l.sy(y).toInt - 4, 8, 8)
      }
      // annotations at axes-fraction (0.1, 0.9) and (0.1, 0.8), red 12pt
      g.setColor(Color.RED)
      g.setFont(annFont)
      def axesFrac(fx: Double, fy: Double): (Int, Int) =
        ((X0 + fx * (X1 - X0)).toInt, (Y1 - fy * (Y1 - Y0)).toInt)
      val (ax1, ay1) = axesFrac(0.1, 0.9)
      val (ax2, ay2) = axesFrac(0.1, 0.8)
      g.drawString(s"Capacitance: ${fmt(capacitance, 2)} uF/cm2", ax1, ay1)
      g.drawString(s"PZC: ${fmt(pzc, 3)} V vs. SHE", ax2, ay2)
    } finally g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  // ---- atomic-structure rendering (the reference's `ase.write(…,
  // rotation='90x')` side view + the echem/struct composite figure,
  // `dags/my_dag.py:222-237`) ----

  /** Jmol/CPK element colors (public palette) for the elements the
    * pipeline meets; unknown elements get a deterministic muted
    * fallback derived from the symbol. */
  private val ElementColor: Map[String, Int] = Map(
    "H" -> 0xFFFFFF, "C" -> 0x909090, "N" -> 0x3050F8, "O" -> 0xFF0D0D,
    "F" -> 0x90E050, "Na" -> 0xAB5CF2, "Mg" -> 0x8AFF00, "Al" -> 0xBFA6A6,
    "Si" -> 0xF0C8A0, "P" -> 0xFF8000, "S" -> 0xFFFF30, "Cl" -> 0x1FF01F,
    "K" -> 0x8F40D4, "Ca" -> 0x3DFF00, "Ti" -> 0xBFC2C7, "V" -> 0xA6A6AB,
    "Cr" -> 0x8A99C7, "Mn" -> 0x9C7AC7, "Fe" -> 0xE06633, "Co" -> 0xF090A0,
    "Ni" -> 0x50D050, "Cu" -> 0xC88033, "Zn" -> 0x7D80B0, "Pt" -> 0xD0D0E0,
    "Au" -> 0xFFD123)
  private def elementColor(e: String): Int =
    ElementColor.getOrElse(e, 0x404040 | (e.hashCode & 0x3F3F3F))

  /** Covalent radii, Å (Cordero 2008, public data); unknowns 1.2 Å. */
  private val CovalentRadius: Map[String, Double] = Map(
    "H" -> 0.31, "C" -> 0.76, "N" -> 0.71, "O" -> 0.66, "F" -> 0.57,
    "Na" -> 1.66, "Mg" -> 1.41, "Al" -> 1.21, "Si" -> 1.11, "P" -> 1.07,
    "S" -> 1.05, "Cl" -> 1.02, "K" -> 2.03, "Ca" -> 1.76, "Ti" -> 1.60,
    "V" -> 1.53, "Cr" -> 1.39, "Mn" -> 1.39, "Fe" -> 1.32, "Co" -> 1.26,
    "Ni" -> 1.24, "Cu" -> 1.32, "Zn" -> 1.22, "Pt" -> 1.36, "Au" -> 1.36)
  private def covalentRadius(e: String): Double = CovalentRadius.getOrElse(e, 1.2)

  /** Side view of a structure — the reference's
    * `ase.write(png, atoms, rotation='90x')` (`dags/my_dag.py:227`):
    * rotate 90° about x so the stacking axis lies in the image
    * plane (slab layers read as horizontal bands), orthographic
    * projection, CPK-colored circles at covalent radii with painter
    * ordering back-to-front. Deterministic: fixed palette, integer
    * geometry, depth/position/element tie-break in the draw order. */
  def structPng(slab: Schemas.Slab, canvas: Int = 300): Array[Byte] = {
    if (System.getProperty("java.awt.headless") == null)
      System.setProperty("java.awt.headless", "true")
    require(slab.positions.nonEmpty, "structPng needs at least one atom")
    val bm = slab.lattice.map(_.map(_ * slab.scale))
    def cart(a: Schemas.Atom): (Double, Double, Double) = (
      a.x * bm(0)(0) + a.y * bm(1)(0) + a.z * bm(2)(0),
      a.x * bm(0)(1) + a.y * bm(1)(1) + a.z * bm(2)(1),
      a.x * bm(0)(2) + a.y * bm(1)(2) + a.z * bm(2)(2))
    // rotation '90x': (x, y, z) → (x, z, −y); screen u = x, v = z
    // (flipped to raster rows), depth = −y (larger = closer)
    val projected = slab.positions.map { a =>
      val (cx, cy, cz) = cart(a)
      (cx, cz, -cy, a.element)
    }
    val rs = projected.map(p => covalentRadius(p._4))
    val uLo = projected.zip(rs).map { case (p, r) => p._1 - r }.min
    val uHi = projected.zip(rs).map { case (p, r) => p._1 + r }.max
    val vLo = projected.zip(rs).map { case (p, r) => p._2 - r }.min
    val vHi = projected.zip(rs).map { case (p, r) => p._2 + r }.max
    val margin = 10.0
    val scale = (canvas - 2 * margin) / math.max(math.max(uHi - uLo, vHi - vLo), 1e-9)
    def px(u: Double): Int = (margin + (u - uLo) * scale).round.toInt
    def pyr(v: Double): Int = (canvas - margin - (v - vLo) * scale).round.toInt
    val img = new java.awt.image.BufferedImage(
      canvas, canvas, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, canvas, canvas)
      projected.sortBy { case (u, v, d, e) => (d, u, v, e) }.foreach { case (u, v, _, e) =>
        val r = math.max(2, (covalentRadius(e) * scale).round.toInt)
        val (cx, cy) = (px(u), pyr(v))
        g.setColor(new java.awt.Color(elementColor(e)))
        g.fillOval(cx - r, cy - r, 2 * r, 2 * r)
        g.setColor(java.awt.Color.BLACK)
        g.drawOval(cx - r, cy - r, 2 * r, 2 * r)
      }
    } finally g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** The reference's COMBINED figure (`dags/my_dag.py:229-237`):
    * echem plot as the base image, structure inset at matplotlib
    * axes-fraction [0.55, 0.3, 0.4, 0.4] (left, bottom, width,
    * height — bottom-origin), both `imshow`-fitted (aspect
    * preserved, centered) onto a 600×400 canvas. */
  def combinedPng(echem: Array[Byte], struct: Array[Byte],
                  w: Int = 600, h: Int = 400): Array[Byte] = {
    if (System.getProperty("java.awt.headless") == null)
      System.setProperty("java.awt.headless", "true")
    def read(b: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    val base = read(echem)
    val inset = read(struct)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, w, h)
      def fit(im: java.awt.image.BufferedImage,
              rx: Int, ry: Int, rw: Int, rh: Int): Unit = {
        val s = math.min(rw.toDouble / im.getWidth, rh.toDouble / im.getHeight)
        val (dw, dh) = ((im.getWidth * s).toInt, (im.getHeight * s).toInt)
        g.drawImage(im, rx + (rw - dw) / 2, ry + (rh - dh) / 2, dw, dh, null)
      }
      fit(base, 0, 0, w, h)
      val (iw, ih) = ((0.4 * w).toInt, (0.4 * h).toInt)
      val (ix, iy) = ((0.55 * w).toInt, h - (0.3 * h).toInt - ih)
      fit(inset, ix, iy, iw, ih)
    } finally g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }
}
