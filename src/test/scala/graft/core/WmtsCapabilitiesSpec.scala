package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Golden-structure check of the WMTS GetCapabilities builder against
  * the REFERENCE's own template rendered by the reference's own code
  * (tools/wmts_caps_golden.py runs tilecloud/lib/wmts.py verbatim via
  * jinja2, with only bottle/pyproj import shims), plus hand-computed
  * matrix arithmetic (lib/wmts.py:46-73). */
class WmtsCapabilitiesSpec extends AnyFunSuite {
  import WmtsCapabilities._

  private val tms = TileMatrixSetDef(
    name = "swissgrid",
    srs = "EPSG:21781",
    units = "meters",
    resolutions = Seq(4000.0, 2000.0, 1000.0, 500.0),
    bbox = (420000.0, 30000.0, 900000.0, 350000.0),
    tileSize = 256)

  private val layers = Seq(
    LayerDef("roads", "image/png", "image/png", "png",
      "DATE", "2012", Seq("2011", "2012"), "swissgrid"),
    LayerDef("water", "image/jpeg", "image/jpeg", "jpeg",
      "ELEV", "0", Seq("0"), "swissgrid"))

  test("matrix arithmetic matches lib/wmts.py by hand") {
    val ms = matrices(tms)
    assert(ms.map(_.id) == Seq(0, 1, 2, 3))
    // res=4000: 480000/256=1875 units/px-row; 1875/4000 -> ceil 1
    assert(ms(0).matrixWidth == 1L && ms(0).matrixHeight == 1L)
    // res=500: ceil(1875/500)=4, ceil(1250/500)=3
    assert(ms(3).matrixWidth == 4L && ms(3).matrixHeight == 3L)
    // bottom yorigin: topleft y = miny + row*tileSize*res
    assert(ms(0).topLeft == "420000.000000 1054000.000000")
    assert(ms(3).topLeft == "420000.000000 414000.000000")
    // 0.28mm/px: 500 m/px / 0.00028
    assert(ms(3).scale == 500.0 / 0.00028)
    // yorigin=top pins the bbox bottom (the reference's exact choice)
    val top = matrices(tms.copy(yoriginTop = true))
    assert(top(0).topLeft == "420000.000000 30000.000000")
  }

  test("element tree identical to the reference template render") {
    val dir = Files.createTempDirectory("wmts-caps")
    val ours = dir.resolve("ours.xml")
    val golden = dir.resolve("golden.xml")
    Files.writeString(
      ours, render(layers, tms, "http://wmts.example.org/wmts"))
    // the checkout under test runs its own scripts: the build passes its
    // base directory (build.sbt), a bare JVM falls back to its cwd
    val base = new java.io.File(sys.props.getOrElse("graft.baseDir", sys.props("user.dir")))
    def run(cmd: String*): (Int, String) = {
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.directory(base)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      (p.waitFor(), out)
    }
    val tool = (name: String) => new java.io.File(base, s"tools/$name").getPath
    val (gc, gout) = run("python3", tool("wmts_caps_golden.py"), golden.toString)
    assert(gc == 0, s"golden render failed: $gout")
    val (cc, cout) =
      run("python3", tool("wmts_caps_check.py"), golden.toString, ours.toString)
    assert(cc == 0, s"tree diff: $cout")
  }
}
