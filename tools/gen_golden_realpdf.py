#!/usr/bin/env python3
"""Golden fixtures for the REAL-PDF gate, derived from the reference's OWN
committed artifacts (never from this repo's parser):

  - /root/reference/NEWARK_SMART_20250902_120119.xlsx — the output the
    reference produced by running its native route + slicer over the 241
    `*_page*.pdf` files (ultimate_batch_processor.py: sorted glob →
    smart_extract native → TableSlicer(newark) → concat, headerless), and
  - /root/reference/single_page_debug.log — the per-stage funnel for page 1
    (256 items → 149 in box → threshold 6.0 → 19 rows → 10 merged).

Writes:
  data/realpdf_page1_grid.tsv   first 10 xlsx rows (page 1's table), 16 cols
  data/realpdf_batch.json       n_pages / total_rows / cells_md5 where
                                cells_md5 = md5(utf8(rows joined by \\x1e,
                                cells within a row joined by \\x1f)), rows in
                                xlsx order (= lexicographic page-file order)

Run it to REGENERATE after any change to the derivation; the fixtures are
committed so the sbt specs and the q51 oracle run without touching xlsx
parsing at test time. The page-1 TSV is the oracle grid of RealPdfSpec and
q51, and also of the simplified-quality score test (SimplifiedQualitySpec,
38.7) and the xlsx round-trip test (XlsxSpec), which run on it with or
without /root/reference.
"""
import zipfile, json, hashlib
import xml.etree.ElementTree as ET

NS = {'a': 'http://schemas.openxmlformats.org/spreadsheetml/2006/main'}
XLSX = '/root/reference/NEWARK_SMART_20250902_120119.xlsx'


def read_rows():
    z = zipfile.ZipFile(XLSX)
    sheet = ET.fromstring(z.read('xl/worksheets/sheet1.xml'))
    rows = []
    for r in sheet.findall('.//a:row', NS):
        cells = []
        for c in r.findall('a:c', NS):
            t = c.find('a:is/a:t', NS)
            cells.append(t.text if t is not None and t.text else '')
        while len(cells) < 16:
            cells.append('')
        rows.append(cells[:16])
    return rows


def main():
    rows = read_rows()
    assert len(rows) == 2136, len(rows)
    for row in rows:
        for cell in row:
            assert '\t' not in cell and '\n' not in cell and '\x1e' not in cell \
                and '\x1f' not in cell, repr(cell)
    with open('data/realpdf_page1_grid.tsv', 'w', encoding='utf-8') as f:
        for row in rows[:10]:
            f.write('\t'.join(row) + '\n')
    blob = '\x1e'.join('\x1f'.join(row) for row in rows).encode('utf-8')
    md5 = hashlib.md5(blob).hexdigest()
    out = {
        'n_pages': 241,
        'total_rows': len(rows),
        'cells_md5': md5,
        'page1': {'items': 256, 'in_box': 149, 'raw_rows': 19, 'rows': 10,
                  'threshold': 6.0, 'median_gap': 5.0},
        'derivation': 'NEWARK_SMART_20250902_120119.xlsx cells + '
                      'single_page_debug.log funnel (reference artifacts)',
    }
    with open('data/realpdf_batch.json', 'w') as f:
        json.dump(out, f, indent=1)
    print('rows:', len(rows), 'md5:', md5)


if __name__ == '__main__':
    main()
