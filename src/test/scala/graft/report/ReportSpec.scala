package graft.report

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** S7 presentation sinks: the PNG plot and 2-page PDF report are real
  * files a viewer can open — checked structurally (no Spark needed). */
class ReportSpec extends AnyFunSuite with graft.TempDirs {

  private val series = (1996 to 2010).map(y => (y, 40.0 + (y - 1996) * 3.5))

  test("PNG plot: valid image, right dimensions, deterministic") {
    val dir = tempDir("graft_png")
    val p1 = dir.resolve("plot1.png").toString
    PngChart.writeCoveragePlot(series, "India", "dtp3", 2003, 5, 5, p1)
    val img = javax.imageio.ImageIO.read(new java.io.File(p1))
    assert(img != null, "ImageIO must parse the file back")
    assert(img.getWidth == 1000 && img.getHeight == 500)
    // the series line color appears somewhere in the plot area
    val blues = for {
      x <- 100 until 900 by 7; y <- 50 until 440 by 7
      c = new java.awt.Color(img.getRGB(x, y))
      if c.getBlue > 150 && c.getBlue > c.getRed + 40
    } yield 1
    assert(blues.nonEmpty, "expected series/span pixels in the plot area")
    val p2 = dir.resolve("plot2.png").toString
    PngChart.writeCoveragePlot(series, "India", "dtp3", 2003, 5, 5, p2)
    assert(java.util.Arrays.equals(Files.readAllBytes(Path.of(p1)), Files.readAllBytes(Path.of(p2))),
      "same inputs must render byte-identical output")
  }

  test("PDF report: two pages, valid xref, expected text content") {
    val dir = tempDir("graft_pdf")
    val path = dir.resolve("report.pdf").toString
    PdfReport.writeReport(series, "India", "dtp3", 2003, 5, 5,
      PdfReport.Stats(Some(47.2), Some(68.9), Some(0.0012)), path,
      today = java.time.LocalDate.of(2026, 1, 1))
    val bytes = Files.readAllBytes(Path.of(path))
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)

    assert(s.startsWith("%PDF-1.4"), "PDF header")
    assert(s.trim.endsWith("%%EOF"), "PDF trailer")
    assert("/Type /Page[^s]".r.findAllIn(s).size == 2, "exactly two pages")
    assert(s.contains("/Count 2"))
    // uncompressed streams: the report text is directly searchable
    assert(s.contains("Global Vaccination Coverage Explorer"))
    assert(s.contains("Executive summary"))
    assert(s.contains("Country: India") && s.contains("Antigen: dtp3"))
    assert(s.contains("p-value is 0.0012"))
    assert(s.contains("Data table \\(top 20 rows\\)")) // parens PDF-escaped in the stream
    assert(s.contains("Generated on: 2026-01-01"))

    // xref integrity: startxref points at the xref table, and every
    // recorded offset points at its "N 0 obj" header
    val xrefAt = s.substring(s.lastIndexOf("startxref")).linesIterator.toSeq(1).trim.toInt
    assert(s.startsWith("xref", xrefAt), "startxref must point at the xref table")
    val entries = s.substring(xrefAt).linesIterator
      .drop(3) // xref / "0 N" / free entry
      .takeWhile(_.endsWith("n "))
      .map(_.take(10).toInt).toSeq
    assert(entries.nonEmpty)
    entries.zipWithIndex.foreach { case (off, i) =>
      assert(s.startsWith(s"${i + 1} 0 obj", off), s"xref entry ${i + 1} must point at its object")
    }
  }

  test("PDF report: missing stats render as N/A (n<2 guard parity)") {
    val dir = tempDir("graft_pdf_na")
    val path = dir.resolve("report.pdf").toString
    PdfReport.writeReport(Seq((2000, 50.0)), "X", "y", 2003, 5, 5,
      PdfReport.Stats(None, None, None), path)
    val s = new String(Files.readAllBytes(Path.of(path)),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(s.contains("p-value is N/A"))
    assert(s.contains("difference is N/A"))
  }
}
