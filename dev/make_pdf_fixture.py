#!/usr/bin/env python3
"""Dev-only generator for the PDF text-layer fixtures — hand-assembled PDF
objects (classic xref + FlateDecode content streams), no reportlab, so the
fixture bytes are reviewable from this script. Run from the repo root:

    python3 dev/make_pdf_fixture.py

Writes:
  src/test/resources/fixtures/rm_pages.pdf
      Two pages whose text layer reproduces rm_pages.json exactly (same
      remittance lines, Thai headers/totals as UTF-16BE hex strings), each
      display line its own Tj with Td line movements. Drives the S7 path:
      PdfReader.pagesTextTagged -> the unchanged remittance line-parse cascade.
  src/test/resources/fixtures/invoice_table.pdf
      One page with a positioned 3-column table (header row, data rows, a
      row with a missing middle cell, Thai total row) — each cell a single
      explicitly positioned Tj, the camelot-"stream" shape. Drives the S5
      path: PdfReader.pagesGridTagged -> header skip, total-row drop, money parse.
  src/test/resources/fixtures/pdf_edge.pdf
      Parser corners: uncompressed stream, indirect /Length, /Contents
      array, nested Pages tree, TJ kerning array, ' and " operators,
      TD/TL/T*, escape sequences incl. octal + line continuation, nested
      parens, odd-digit hex string, comments, no trailer keyword (catalog
      scan fallback).
"""
import zlib
import os

OUT = "src/test/resources/fixtures"


def utf16_hex(s: str) -> bytes:
    return b"<" + (b"\xfe\xff" + s.encode("utf-16-be")).hex().upper().encode() + b">"


def lit(s: str) -> bytes:
    out = s.encode("latin-1")
    for ch in (b"\\", b"(", b")"):
        out = out.replace(ch, b"\\" + ch)
    return b"(" + out + b")"


def text_str(s: str) -> bytes:
    try:
        return lit(s)
    except UnicodeEncodeError:
        return utf16_hex(s)


def page_content_lines(lines, x=72.0, y0=770.0, dy=14.0) -> bytes:
    ops = [b"BT", b"/F1 12 Tf", b"1 0 0 1 %g %g Tm" % (x, y0)]
    for i, line in enumerate(lines):
        if i > 0:
            ops.append(b"0 -%g Td" % dy)
        ops.append(text_str(line) + b" Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def page_content_cells(rows) -> bytes:
    """rows: list of (y, [(x, text), ...]) — one Tm-positioned Tj per cell."""
    ops = [b"BT", b"/F1 10 Tf"]
    for y, cells in rows:
        for x, text in cells:
            ops.append(b"1 0 0 1 %g %g Tm" % (x, y))
            ops.append(text_str(text) + b" Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


class PdfBuilder:
    def __init__(self):
        self.objs = {}  # num -> bytes (object body, no header/footer)

    def add(self, num: int, body: bytes):
        self.objs[num] = body

    def add_stream(self, num: int, data: bytes, compress=True, length_ref=None):
        extra = b""
        if compress:
            data = zlib.compress(data, 6)
            extra = b" /Filter /FlateDecode"
        if length_ref is not None:
            self.add(length_ref, b"%d" % len(data))
            dic = b"<< /Length %d 0 R%s >>" % (length_ref, extra)
        else:
            dic = b"<< /Length %d%s >>" % (len(data), extra)
        self.objs[num] = dic + b"\nstream\n" + data + b"\nendstream"

    def build(self, root: int, with_trailer=True) -> bytes:
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = {}
        for num in sorted(self.objs):
            offsets[num] = len(out)
            out += b"%d 0 obj\n" % num
            out += self.objs[num]
            out += b"\nendobj\n"
        xref_off = len(out)
        if with_trailer:
            nmax = max(self.objs) + 1
            out += b"xref\n0 %d\n" % nmax
            out += b"0000000000 65535 f \n"
            for num in range(1, nmax):
                if num in offsets:
                    out += b"%010d 00000 n \n" % offsets[num]
                else:
                    out += b"0000000000 65535 f \n"
            out += b"trailer\n<< /Size %d /Root %d 0 R >>\n" % (nmax, root)
        out += b"startxref\n%d\n%%%%EOF\n" % xref_off
        return bytes(out)


def font_obj() -> bytes:
    return b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def page_obj(parent: int, contents) -> bytes:
    if isinstance(contents, list):
        c = b"[ " + b" ".join(b"%d 0 R" % n for n in contents) + b" ]"
    else:
        c = b"%d 0 R" % contents
    return (b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 90 0 R >> >> /Contents %s >>"
            % (parent, c))


def make_rm_pages():
    p1 = ["รายงานการจ่ายเงิน",
          "วันที่จ่ายเงิน: 30/09/2568",
          "รหัสผู้ขาย: 72195",
          "15/09/2568 FC1 IV CHO12345 1NV68071 1,234.50",
          "16/09/2568 W123 IV CHO12346 IV68072 2,000.00",
          "15/09/2568 CN CN-001 CONSIGN-00 (500.00)",
          "junk line without structure",
          "จำนวนเงินรวมทั้งสิ้น 2,734.50"]
    p2 = ["วันที่จ่ายเงิน: 30/09/2568",
          "รหัสผู้ขาย: 72195",
          "16/09/2568 W123 IV CHO12346 IV68072 2,000.00",
          "17/09/2568 FC02 IV CHO12347 IV68073 750.25",
          "จำนวนเงินรวมทั้งสิ้น 2,750.25"]
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [ 3 0 R 5 0 R ] /Count 2 >>")
    b.add(3, page_obj(2, 4))
    b.add_stream(4, page_content_lines(p1))
    b.add(5, page_obj(2, 6))
    b.add_stream(6, page_content_lines(p2))
    b.add(90, font_obj())
    return b.build(root=1)


def make_invoice_table():
    rows = [
        (780.0, [(72.0, "รายงานใบแจ้งหนี้")]),
        (740.0, [(72.0, "ลำดับที่"), (150.0, "Invoice No"), (300.0, "Amount")]),
        (720.0, [(72.0, "1"), (150.0, "IV-8001"), (300.0, "1,500.00")]),
        (700.0, [(72.0, "2"), (150.0, "IV-8002"), (300.0, "(250.75)")]),
        (680.0, [(72.0, "3"), (300.0, "125.00")]),
        (660.0, [(72.0, "รวมทั้งสิ้น"), (300.0, "1,374.25")]),
    ]
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
    b.add(3, page_obj(2, 4))
    b.add_stream(4, page_content_cells(rows))
    b.add(90, font_obj())
    return b.build(root=1)


def make_edge():
    # page 1: split across a /Contents ARRAY; stream 1 uncompressed with an
    # INDIRECT /Length; TJ kerning array + escapes + odd-digit hex + comment
    c1 = (b"BT /F1 12 Tf\n"
          b"1 0 0 1 72 700 Tm\n"
          b"% a comment inside the content stream\n"
          b"[ (Hel) -20 (lo) ] TJ\n")
    c2 = (b"0 -14 TD (a\\(b\\)c\\\\d\\101\\012e) Tj\n"
          b"T* (nested (parens) kept) Tj\n"
          b"14 TL\n"
          b"(apostrophe line) '\n"
          b"2 0 (quote line) \"\n"
          b"1 0 0 1 72 600 Tm <48656C6C6F2> Tj\n"
          b"(li\\\nne continuation) Tj\n"
          b"ET")
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    # nested Pages tree: root -> [inner Pages -> page1, page2]
    b.add(2, b"<< /Type /Pages /Kids [ 7 0 R 5 0 R ] /Count 2 >>")
    b.add(7, b"<< /Type /Pages /Parent 2 0 R /Kids [ 3 0 R ] /Count 1 >>")
    b.add(3, page_obj(7, [4, 8]))
    b.add_stream(4, c1, compress=False, length_ref=40)
    b.add_stream(8, c2, compress=True)
    b.add(5, page_obj(2, 6))
    b.add_stream(6, b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (second page) Tj ET",
                 compress=True)
    b.add(90, font_obj())
    return b.build(root=1, with_trailer=False)


def main():
    os.makedirs(OUT, exist_ok=True)
    for name, data in [("rm_pages.pdf", make_rm_pages()),
                       ("invoice_table.pdf", make_invoice_table()),
                       ("pdf_edge.pdf", make_edge())]:
        path = os.path.join(OUT, name)
        with open(path, "wb") as f:
            f.write(data)
        print(f"wrote {path} ({len(data)} bytes)")


if __name__ == "__main__":
    main()
