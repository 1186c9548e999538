import graft.sources.excel.XlsxReader;
import java.io.*;
import java.util.zip.*;

/** Reads one-sheet workbooks with malformed cell and row references and
  * prints what the reader makes of each. Build: javac -cp "<classes>:$SPARK_HOME/jars/*"
  * CapProbe.java; run: java -Xmx256m -cp ".:<classes>:$SPARK_HOME/jars/*" CapProbe,
  * where <classes> holds the compiled connector (perfbench/target/scala-2.13/classes). */
public class CapProbe {
  static File wb(String body) throws Exception {
    File f = File.createTempFile("cap", ".xlsx", null);
    f.deleteOnExit();
    try (ZipOutputStream z = new ZipOutputStream(new FileOutputStream(f))) {
      z.putNextEntry(new ZipEntry("xl/workbook.xml"));
      z.write(("<?xml version=\"1.0\"?><workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">"
          + "<sheets><sheet name=\"S\" sheetId=\"1\" id=\"rId1\"/></sheets></workbook>").getBytes("UTF-8"));
      z.closeEntry();
      z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"));
      z.write(("<?xml version=\"1.0\"?><worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">"
          + body + "</worksheet>").getBytes("UTF-8"));
      z.closeEntry();
    }
    return f;
  }

  static void rows(String label, String body, boolean[] mask) {
    try {
      XlsxReader r = new XlsxReader(wb(body));
      scala.collection.Iterator<Object> it = (scala.collection.Iterator<Object>) (Object)
          r.rowIterator((XlsxReader.Sheet) r.sheets().head(), 1, Integer.MAX_VALUE, mask);
      long n = 0; int w = 0;
      while (it.hasNext()) { Object[] row = (Object[]) it.next(); n++; w = Math.max(w, row.length); }
      System.out.println(label + ": rows=" + n + " maxWidth=" + w);
    } catch (Throwable t) {
      System.out.println(label + ": " + t.getClass().getSimpleName() + ": " + t.getMessage());
    }
  }

  public static void main(String[] a) throws Exception {
    for (String ref : new String[] {"XFD1", "XFE1", "ZZZZZ1", "ZZZZZZ1", "ZZZZZZZ1"}) {
      String body = "<sheetData><row r=\"1\"><c r=\"" + ref + "\"><v>1</v></c></row></sheetData>";
      rows(ref + " all", body, null);
      rows(ref + " mask1", body, new boolean[] {true});
    }
    rows("row 100000000", "<sheetData><row r=\"100000000\"/></sheetData>", new boolean[] {true});
    rows("row 1048577", "<sheetData><row r=\"1048577\"/></sheetData>", null);
    for (String dim : new String[] {"A1:A5000", "A1:A2000000", "A1:A99999999999"}) {
      try {
        XlsxReader r = new XlsxReader(wb("<dimension ref=\"" + dim + "\"/><sheetData><row r=\"1\"><c r=\"A1\"><v>1</v></c></row></sheetData>"));
        System.out.println("dimension " + dim + ": lastRowNumber=" + r.lastRowNumber((XlsxReader.Sheet) r.sheets().head()));
      } catch (Throwable t) {
        System.out.println("dimension " + dim + ": " + t.getClass().getSimpleName() + ": " + t.getMessage());
      }
    }
  }
}
