package graft.core

import java.util.Locale

/** WMTS GetCapabilities XML generator — the Spark-free, driver-side
  * counterpart of the reference's capabilities builder
  * (lib/wmts.py:1-115 + lib/wmts_get_capabilities_template.py): a
  * TileMatrixSet definition (the same grid/resolution data
  * [[FreeTileGrid]] carries) plus per-layer dimension metadata render
  * to the OGC WMTS 1.0.0 Capabilities document that lets any WMTS
  * client consume tiles this engine wrote.
  */
object WmtsCapabilities {

  /** lib/wmts.py:10 — fixed unit conversions for ScaleDenominator. */
  val MetersPerUnit: Map[String, Double] = Map(
    "feet" -> 3.28084,
    "meters" -> 1.0,
    "degrees" -> 111118.752,
    "inch" -> 39.3700787)

  /** The reference's `_TileMatrixSet` dict (lib/wmts.py:20-28). */
  final case class TileMatrixSetDef(
      name: String,
      srs: String,
      units: String,
      resolutions: Seq[Double],
      bbox: (Double, Double, Double, Double),
      tileSize: Int,
      yoriginTop: Boolean = false)

  /** The template's layer fields (the reference `_Layer` TypedDict
    * declares a narrower set than its template actually reads — this
    * models what the TEMPLATE consumes). */
  final case class LayerDef(
      name: String,
      format: String,
      mimeType: String,
      extension: String,
      dimensionKey: String,
      dimensionDefault: String,
      dimensionValues: Seq[String],
      matrixSet: String)

  /** One computed TileMatrix row (lib/wmts.py:30-73). */
  final case class Matrix(
      id: Int,
      tileWidth: Int,
      tileHeight: Int,
      matrixWidth: Long,
      matrixHeight: Long,
      resolution: Double,
      scale: Double,
      topLeft: String)

  /** lib/wmts.py:46-73: per-resolution matrix sizing. `col`/`row`
    * count tiles covering the bbox at that resolution; the top-left
    * corner's y is the bbox bottom plus the FULL matrix height when
    * the origin is at the bottom (the reference's exact arithmetic,
    * including its yorigin=top choice of bbox[1]); 0.28 mm/pixel is
    * the OGC-standard ScaleDenominator conversion. */
  def matrices(tms: TileMatrixSetDef): Seq[Matrix] = {
    val (minx, miny, maxx, maxy) = tms.bbox
    tms.resolutions.zipWithIndex.map { case (resolution, i) =>
      val col = math.ceil(((maxx - minx) / tms.tileSize) / resolution).toLong
      val row = math.ceil(((maxy - miny) / tms.tileSize) / resolution).toLong
      val topY =
        if (tms.yoriginTop) miny
        else miny + row * tms.tileSize * resolution
      Matrix(
        id = i,
        tileWidth = tms.tileSize,
        tileHeight = tms.tileSize,
        matrixWidth = col,
        matrixHeight = row,
        resolution = resolution,
        scale = resolution * MetersPerUnit(tms.units) / 0.00028,
        topLeft = String.format(Locale.US, "%f %f", Double.box(minx), Double.box(topY)))
    }
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** Render the full Capabilities document — the same element tree the
    * reference template produces for (layers, one matrix set,
    * wmts_gettile). One intentional divergence: the reference template
    * iterates `layers["dimension_values"]` (a string index into a
    * LIST — a latent bug that renders zero <Value> elements under
    * Jinja2); this emits the clearly intended per-layer values. */
  def render(
      layers: Seq[LayerDef],
      tms: TileMatrixSetDef,
      wmtsGettile: String): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<Capabilities version=\"1.0.0\" xmlns=\"http://www.opengis.net/wmts/1.0\" xmlns:ows=\"http://www.opengis.net/ows/1.1\"\n"
    sb ++= "              xmlns:xlink=\"http://www.w3.org/1999/xlink\" xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\"\n"
    sb ++= "              xmlns:gml=\"http://www.opengis.net/gml\"\n"
    sb ++= "              xsi:schemaLocation=\"http://schemas.opengis.net/wmts/1.0/wmtsGetCapabilities_response.xsd\">\n"
    sb ++= "  <ows:ServiceIdentification> </ows:ServiceIdentification>\n"
    sb ++= "  <ows:ServiceProvider> </ows:ServiceProvider>\n"
    sb ++= "  <ows:OperationsMetadata>\n"
    sb ++= "    <ows:Operation name=\"GetTile\">\n"
    sb ++= "      <ows:DCP>\n"
    sb ++= s"""        <ows:HTTP><ows:Get xlink:href="${esc(wmtsGettile)}" /></ows:HTTP>\n"""
    sb ++= "      </ows:DCP>\n"
    sb ++= "    </ows:Operation>\n"
    sb ++= "  </ows:OperationsMetadata>\n"
    sb ++= "  <Contents>\n"
    for (layer <- layers) {
      sb ++= "    <Layer>\n"
      sb ++= s"      <ows:Title>${esc(layer.name)}</ows:Title>\n"
      sb ++= s"      <ows:Identifier>${esc(layer.name)}</ows:Identifier>\n"
      sb ++= "      <Style isDefault=\"true\">\n"
      sb ++= "        <ows:Identifier>default</ows:Identifier>\n"
      sb ++= "      </Style>\n"
      sb ++= s"      <Format>${esc(layer.format)}</Format>\n"
      sb ++= "      <Dimension>\n"
      sb ++= s"        <ows:Identifier>${esc(layer.dimensionKey)}</ows:Identifier>\n"
      sb ++= s"        <Default>${esc(layer.dimensionDefault)}</Default>\n"
      for (v <- layer.dimensionValues)
        sb ++= s"        <Value>${esc(v)}</Value>\n"
      sb ++= "      </Dimension>\n"
      sb ++= s"""      <ResourceURL format="${esc(layer.mimeType)}" resourceType="tile"\n"""
      sb ++= s"""                   template="${esc(wmtsGettile)}/1.0.0/${esc(layer.name)}/{style}/{${esc(layer.dimensionKey)}}/{TileMatrixSet}/{TileMatrix}/{TileRow}/{TileCol}.${esc(layer.extension)}" />\n"""
      sb ++= "      <TileMatrixSetLink>\n"
      sb ++= s"        <TileMatrixSet>${esc(layer.matrixSet)}</TileMatrixSet>\n"
      sb ++= "      </TileMatrixSetLink>\n"
      sb ++= "    </Layer>\n"
    }
    sb ++= "    <TileMatrixSet>\n"
    sb ++= s"      <ows:Identifier>${esc(tms.name)}</ows:Identifier>\n"
    sb ++= s"      <ows:SupportedCRS>urn:ogc:def:crs:${esc(tms.srs.replace(":", "::"))}</ows:SupportedCRS>\n"
    for (m <- matrices(tms)) {
      sb ++= "      <TileMatrix>\n"
      sb ++= s"        <ows:Identifier>${m.id}</ows:Identifier>\n"
      sb ++= s"        <ScaleDenominator>${m.scale}</ScaleDenominator>\n"
      sb ++= s"        <TopLeftCorner>${m.topLeft}</TopLeftCorner>\n"
      sb ++= s"        <TileWidth>${m.tileWidth}</TileWidth>\n"
      sb ++= s"        <TileHeight>${m.tileHeight}</TileHeight>\n"
      sb ++= s"        <MatrixWidth>${m.matrixWidth}</MatrixWidth>\n"
      sb ++= s"        <MatrixHeight>${m.matrixHeight}</MatrixHeight>\n"
      sb ++= "      </TileMatrix>\n"
    }
    sb ++= "    </TileMatrixSet>\n"
    sb ++= "  </Contents>\n"
    sb ++= "</Capabilities>\n"
    sb.result()
  }
}
