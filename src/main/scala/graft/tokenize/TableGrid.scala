package graft.tokenize

import graft.model.{Cell, Grid, GridRow}
import scala.collection.immutable.ArraySeq

/** Serialized table-grid parsing + row reconstruction.
  *
  * Wire format of a `table_raw` span's text: rows separated by `\n`, cells by
  * `|`; row-prefix markers `H:` (header row), `S:` (separator row), `T:`
  * (total row); unmarked rows are data rows.
  *
  * Reconstruction semantics pinned to the reference's `table_to_rows_dict`
  * (src/pipeline/table_types.py:135-168): header names from the header row
  * (fallback `col_i`), header and separator rows dropped, total rows kept,
  * cells mapped by column index, empty rows dropped.
  */
object TableGrid {

  def parse(text: String): Grid = {
    if (text == null || text.trim.isEmpty) return Grid(Seq.empty, Seq.empty, 0)
    var headers = Seq.empty[String]
    val rows = Seq.newBuilder[GridRow]
    var columns = 0
    var ri = 0
    val n = text.length
    var ls = 0
    while (ls < n) {
      // one pass: non-empty lines between '\n's, cells between '|'s
      // (trailing empty cells kept)
      var le = text.indexOf('\n', ls)
      if (le < 0) le = n
      if (le > ls) {
        val marker = if (le - ls >= 2 && text.charAt(ls + 1) == ':') text.charAt(ls) else ' '
        val isHeader = marker == 'H'
        val isTotal = marker == 'T'
        val isSep = marker == 'S'
        val body = if (isHeader || isTotal || isSep) ls + 2 else ls
        var pipes = 0
        var p = body
        while (p < le) { if (text.charAt(p) == '|') pipes += 1; p += 1 }
        val cells = new Array[Cell](pipes + 1)
        var cs = body
        var ci = 0
        while (ci <= pipes) {
          var ce = cs
          while (ce < le && text.charAt(ce) != '|') ce += 1
          cells(ci) = Cell(ri, ci, text.substring(cs, ce))
          ci += 1
          cs = ce + 1
        }
        val row = ArraySeq.unsafeWrapArray(cells)
        if (isHeader && headers.isEmpty) headers = row.map(_.text.trim)
        rows += GridRow(ri, row, isHeader, isTotal, isSep)
        columns = math.max(columns, ci)
        ri += 1
      }
      ls = le + 1
    }
    Grid(headers, rows.result(), columns)
  }

  /** `table_to_rows_dict` semantics: list of (header name -> cell text) maps. */
  def rowsAsMaps(grid: Grid): Seq[Map[String, String]] = {
    val headerNames =
      if (grid.headers.nonEmpty) grid.headers
      else (0 until grid.columnCount).map(i => s"col_$i")
    grid.rows.iterator
      .filterNot(r => r.isHeaderRow || r.isSeparatorRow)
      .map { row =>
        row.cells.map { c =>
          val name =
            if (c.colIndex < headerNames.length) headerNames(c.colIndex)
            else s"col_${c.colIndex}"
          name -> c.text
        }.toMap
      }
      .filter(_.nonEmpty)
      .toSeq
  }
}
