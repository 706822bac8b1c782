package graft.functions

/** Grayscale pixel grids (row-major Array[Int], values 0-255) and the
  * decoded-pixel operators that ExtractionQ's media-quality queries run:
  * the deterministic synthetic pages (`syntheticPage`, pure (shard, index)
  * arithmetic), their lossless PNG encode and real decode via
  * `javax.imageio` (DocGen.encodePng / decodePng round-trip), the quality
  * metrics of image_enhancer.py:855-928 (`qualityOf`) and the 2×2
  * box-downsample statistics (`downsampleStats2`).
  *
  * The reference's seven enhancement kernels (Otsu, opening, despeckle,
  * orientation, deskew, NLM denoise, CLAHE) are not carried: x05 emits
  * its enhancement plan as a string column and nothing executes it.
  */
object ImageKernels {

  /** Grayscale image, row-major, px(y * width + x) in 0-255. */
  final case class Gray(width: Int, height: Int, px: Array[Int]) {
    require(px.length == width * height, "pixel buffer shape mismatch")
    def apply(y: Int, x: Int): Int = px(y * width + x)
  }

  /** Deterministic synthetic page for a media ref's (shard, index): light
    * background, dark glyph bands in the upper half (runs broken by column
    * gaps so components are glyph-sized), speckle pixels scattered in the
    * blank lower half — a bimodal histogram with top-heavy row density.
    * Pure arithmetic: the same ref always yields the same page.
    */
  def syntheticPage(shard: Long, index: Long, w: Int = 64, h: Int = 64): Gray = {
    val px = Array.fill(w * h)(235)
    var r = 0
    while (r < h / 2) {
      if (r % 8 >= 4 && r % 8 <= 6) {
        var c = 0
        while (c < w) {
          if ((shard + c) % 7 != 0)
            px(r * w + c) = (20 + ((shard * c + index * r) % 30)).toInt
          c += 1
        }
      }
      r += 1
    }
    var k = 0
    while (k < 12) {
      val sy = (h / 2 + (shard * 13 + index * 7 + k * 31) % (h / 2)).toInt
      val sx = ((shard * 17 + index * 11 + k * 43) % w).toInt
      px(sy * w + sx) = 10
      k += 1
    }
    Gray(w, h, px)
  }

  /** Lossless PNG encode of a grayscale grid via the JDK's own codec
    * (`javax.imageio` — no external image libraries). DocGen uses this to
    * materialize the synthetic corpus's media blobs as REAL PNG bytes, so
    * the decode path below exercises an actual codec round-trip.
    */
  def encodePng(img: Gray): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(
      img.width, img.height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = bi.getRaster
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        raster.setSample(x, y, 0, img.px(y * img.width + x))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", out)
    out.toByteArray
  }

  /** Real pixel decode via the JDK's PNG/JPEG/BMP readers — the decode step
    * the reference runs through PIL/cv2 (pdf_processor.py:466-559 render
    * path). Gray conversion uses the standard ITU-R 601 luma for color
    * inputs; 8-bit gray PNGs round-trip exactly.
    */
  def decodePng(bytes: Array[Byte]): Gray = {
    val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(bi != null, "undecodable image bytes")
    val w = bi.getWidth; val h = bi.getHeight
    val px = new Array[Int](w * h)
    val gray = bi.getColorModel.getNumComponents == 1
    val raster = bi.getRaster
    // Gray samples are scaled to 8-bit by their declared sample depth: a
    // 16-bit grayscale PNG yields raster samples up to 65535, and passing
    // those through unscaled would hand qualityOf and its flags values
    // outside the 0-255 range they assume. Color inputs already land in
    // 0-255 via getRGB.
    val grayShift = if (gray) math.max(raster.getSampleModel.getSampleSize(0) - 8, 0) else 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) =
          if (gray) raster.getSample(x, y, 0) >> grayShift
          else {
            val rgb = bi.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
            math.rint(0.299 * r + 0.587 * g + 0.114 * b).toInt
          }
        x += 1
      }
      y += 1
    }
    Gray(w, h, px)
  }

  /** Decoded-pixel quality metrics (image_enhancer.py:855-928 contract):
    * mean brightness, std-dev contrast, and blur = variance of the 3x3
    * Laplacian ([[0,1,0],[1,-4,1],[0,1,0]], cv2.Laplacian ksize=1) with
    * cv2's default BORDER_REFLECT_101. Sums accumulate in Long (pixel
    * values are integers, so every sum is exact) and the final divisions
    * mirror the SQL oracle op-for-op — the metrics are bit-exact
    * re-derivable in DuckDB from the synthetic page arithmetic.
    */
  final case class PixelQuality(
      brightness: Double, contrast: Double, lapVar: Double) {
    def lowContrast: Boolean = contrast < 30.0
    def isDark: Boolean = brightness < 100.0
    def isWashedOut: Boolean = brightness > 200.0 && contrast < 40.0
    // _calculate_quality_score (image_enhancer.py:909-928): 0-100 composite
    def qualityScore: Double = {
      val sharpness = math.min(100.0, lapVar / 10.0)
      val contrastScore = math.min(100.0, contrast * 2.0)
      val brightnessScore = 100.0 - math.abs(brightness - 128.0) * 0.78
      val s = sharpness * 0.4 + contrastScore * 0.3 + brightnessScore * 0.3
      math.max(0.0, math.min(100.0, s))
    }
  }

  def qualityOf(img: Gray): PixelQuality = {
    val w = img.width; val h = img.height
    val n = (w * h).toDouble
    var sum = 0L; var sumSq = 0L
    var i = 0
    while (i < img.px.length) {
      val v = img.px(i).toLong
      sum += v; sumSq += v * v
      i += 1
    }
    val mean = sum.toDouble / n
    val contrast = math.sqrt(sumSq.toDouble / n - mean * mean)
    // reflect-101 needs >= 2 pixels per axis (index -1 mirrors to 1); a
    // degenerate 1-wide/1-tall image has no Laplacian response
    if (w < 2 || h < 2) return PixelQuality(mean, contrast, 0.0)
    // BORDER_REFLECT_101: index -1 mirrors to 1, index n mirrors to n-2
    var lSum = 0L; var lSq = 0L
    var y = 0
    while (y < h) {
      val yu = if (y == 0) 1 else y - 1
      val yd = if (y == h - 1) h - 2 else y + 1
      var x = 0
      while (x < w) {
        val xl = if (x == 0) 1 else x - 1
        val xr = if (x == w - 1) w - 2 else x + 1
        val lap = (img.px(yu * w + x) + img.px(yd * w + x) +
          img.px(y * w + xl) + img.px(y * w + xr) - 4 * img.px(y * w + x)).toLong
        lSum += lap; lSq += lap * lap
        x += 1
      }
      y += 1
    }
    val lMean = lSum.toDouble / n
    PixelQuality(mean, contrast, lSq.toDouble / n - lMean * lMean)
  }

  /** Downsample statistics for a 2×2 box-filter resize. */
  final case class ResizeStats(width: Int, height: Int,
      brightness: Double, contrast: Double)

  /** 2×2 box-filter downsample statistics, kept in the exact integer domain.
    * The reference caps page renders at max_dimension and downscales with
    * PIL LANCZOS (src/preprocessing/image_processor.py:143-149, and
    * `_resize_image` :594-613 before VLM dispatch); the operator here is the
    * same decode→downscale→stats step with a 2×2 box kernel (cv2.INTER_AREA
    * at factor 2 IS the 2×2 box mean) — chosen because it is exactly
    * representable in integer arithmetic, so the surface can be oracled
    * bit-exactly; LANCZOS changes the filter taps, not the pipeline shape.
    * Each output cell is the SUM of its 2×2 block (0..1020);
    * all statistics divide once, at the end, by power-of-two pixel counts,
    * so brightness/contrast of the resized image are bit-exact and the box
    * filter's mean-preservation property (mean_out == mean_in, exactly, in
    * floating point — both are the same integer scaled by a power of two)
    * is machine-checkable rather than approximate.
    */
  def downsampleStats2(img: Gray): ResizeStats = {
    require(img.width % 2 == 0 && img.height % 2 == 0,
      "box downsample expects even dimensions")
    val w2 = img.width / 2; val h2 = img.height / 2
    var s1 = 0L; var s2 = 0L
    var r = 0
    while (r < h2) {
      var c = 0
      while (c < w2) {
        val s = img(2 * r, 2 * c) + img(2 * r, 2 * c + 1) +
          img(2 * r + 1, 2 * c) + img(2 * r + 1, 2 * c + 1)
        s1 += s; s2 += s.toLong * s
        c += 1
      }
      r += 1
    }
    val n = (w2 * h2).toDouble
    val mean = s1.toDouble / n / 4.0
    val ex2 = s2.toDouble / n / 16.0
    ResizeStats(w2, h2, mean, math.sqrt(ex2 - mean * mean))
  }
}
