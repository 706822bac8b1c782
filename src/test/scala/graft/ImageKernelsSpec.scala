package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ImageKernels
import graft.functions.ImageKernels.Gray

/** Pixel-grid goldens: the PNG codec round-trip, decoded-pixel quality
  * (image_enhancer.py:855-928 contract) and the 2x2 box downsample.
  */
class ImageKernelsSpec extends AnyFunSuite {

  test("PNG encode/decode round-trips pixels exactly through javax.imageio") {
    val page = ImageKernels.syntheticPage(17L, 3L)
    val decoded = ImageKernels.decodePng(ImageKernels.encodePng(page))
    assert(decoded.width == page.width && decoded.height == page.height)
    assert(decoded.px.sameElements(page.px), "PNG round-trip changed pixels")
  }

  test("decoded-pixel quality matches a hand-computed grid and cv2 contract") {
    // 3x3 constant image: zero contrast, zero Laplacian variance
    val flat = Gray(3, 3, Array.fill(9)(150))
    val qf = ImageKernels.qualityOf(flat)
    assert(qf.brightness == 150.0 && qf.contrast == 0.0 && qf.lapVar == 0.0)
    assert(qf.lowContrast && !qf.isDark)
    // 2x2 checkerboard {0,255}: mean 127.5, std 127.5; reflect-101 makes
    // every 3x3 neighborhood see the opposite value 4x -> lap = +-4*255,
    // mean 0, variance (4*255)^2
    val cb = Gray(2, 2, Array(0, 255, 255, 0))
    val qc = ImageKernels.qualityOf(cb)
    assert(qc.brightness == 127.5 && qc.contrast == 127.5)
    assert(qc.lapVar == math.pow(4 * 255, 2))
    // the synthetic page is sharp, bright and high-contrast
    val qp = ImageKernels.qualityOf(ImageKernels.syntheticPage(5L, 9L))
    assert(qp.lapVar > 100.0 && !qp.lowContrast && !qp.isDark)
    assert(qp.qualityScore > 50.0 && qp.qualityScore <= 100.0)
  }

  test("2x2 box downsample: hand-computed 4x4 case, exact mean preservation on pages") {
    // hand case: blocks sum to 10, 18, 26, 42 -> means 2.5, 4.5, 6.5, 10.5
    val img = ImageKernels.Gray(4, 4, Array(
      1, 2, 5, 4,
      3, 4, 4, 5,
      5, 6, 10, 11,
      7, 8, 10, 11))
    val rs = ImageKernels.downsampleStats2(img)
    assert(rs.width == 2 && rs.height == 2)
    val means = Seq(10, 18, 26, 42).map(_ / 4.0)
    val exp = means.sum / 4.0
    assert(rs.brightness == exp)
    val ex2 = means.map(m => m * m).sum / 4.0
    assert(rs.contrast == math.sqrt(ex2 - exp * exp))
    // mean preservation is EXACT (same integer scaled by powers of two),
    // on the hand case and on real synthetic pages through the PNG codec
    assert(rs.brightness == ImageKernels.qualityOf(img).brightness)
    for (s <- 0 until 3; i <- 0 until 2) {
      val page = ImageKernels.decodePng(
        graft.tokenize.DocGen.mediaPngBytes(s, i))
      val d = ImageKernels.downsampleStats2(page)
      assert(d.brightness == ImageKernels.qualityOf(page).brightness,
        s"box filter must preserve the mean exactly (s=$s i=$i)")
      assert(d.contrast <= ImageKernels.qualityOf(page).contrast,
        "averaging can only reduce variance")
    }
  }
}
