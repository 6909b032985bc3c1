"""Demo dataset loaders and table readers."""

import pytest

from deduplipy_spark.sources.datasets import load_data, read_table


def test_voters_loader_contract(spark):
    df = load_data(spark, "voters")
    assert df.columns == ["name", "suburb", "postcode"]
    assert df.count() == 1746
    # deterministic across calls
    a = df.toPandas()
    b = load_data(spark, "voters").toPandas()
    assert a.equals(b)


def test_stoxx_and_dispatch(spark):
    df = load_data(spark, "stoxx50")
    assert df.columns == ["name"]
    assert df.count() == 45
    with pytest.raises(ValueError):
        load_data(spark, "nope")


def test_read_table_csv(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = read_table(spark, p, fmt="csv")
    assert df.count() == 2 and df.columns == ["a", "b"]


def _write_min_xlsx(path):
    """Hand-built ECMA-376 minimal workbook: shared + inline strings,
    numbers, a blank cell."""
    import zipfile

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ct = """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
 <Default Extension="xml" ContentType="application/xml"/>
 <Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
 <Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
 <Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""
    ss = f"""<?xml version="1.0"?>
<sst xmlns="{m}" count="3" uniqueCount="3">
 <si><t>name</t></si><si><t>price</t></si><si><t>adidas</t></si>
</sst>"""
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{m}"><sheetData>
 <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
 <row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>187.5</v></c></row>
 <row r="3"><c r="A3" t="inlineStr"><is><t>airbus se</t></is></c><c r="B3"><v>42</v></c></row>
 <row r="4"><c r="B4"><v>7</v></c></row>
</sheetData></worksheet>"""
    wb = f"""<?xml version="1.0"?>
<workbook xmlns="{m}"><sheets><sheet name="s1" sheetId="1" r:id="rId1"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/></sheets></workbook>"""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/sharedStrings.xml", ss)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_xlsx_scan_stdlib_reader(spark, tmp_path):
    """Excel scan (reference datasets.py:7-11) without openpyxl: the stdlib
    zip+XML reader handles shared/inline strings, numbers and blanks."""
    from deduplipy_spark.sources.datasets import read_table, read_xlsx_pandas

    p = str(tmp_path / "demo.xlsx")
    _write_min_xlsx(p)
    pdf = read_xlsx_pandas(p)
    assert list(pdf.columns) == ["name", "price"]
    assert pdf["name"].tolist() == ["adidas", "airbus se", None]
    assert pdf["price"].tolist() == [187.5, 42, 7]
    sdf = read_table(spark, p, fmt="xlsx")
    assert sdf.count() == 3 and set(sdf.columns) == {"name", "price"}


def _write_multi_sheet_xlsx(path, n_sheets=11):
    """Workbook with sheet1..sheetN (N>=10 so lexicographic sheet10 < sheet2
    would misorder); each sheet holds one inline-string marker row."""
    import zipfile

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("xl/workbook.xml", f'<workbook xmlns="{m}"/>')
        for i in range(1, n_sheets + 1):
            z.writestr(
                f"xl/worksheets/sheet{i}.xml",
                f'<worksheet xmlns="{m}"><sheetData>'
                f'<row r="1"><c r="A1" t="inlineStr"><is><t>marker</t></is></c></row>'
                f'<row r="2"><c r="A2" t="inlineStr"><is><t>sheet{i}</t></is></c></row>'
                f"</sheetData></worksheet>",
            )


def test_xlsx_sheet_index_numeric_order(tmp_path):
    """ADVICE r3: sheet index must map through NUMERIC filename order —
    lexicographic sorting put sheet10.xml before sheet2.xml."""
    from deduplipy_spark.sources.datasets import read_xlsx_pandas

    p = str(tmp_path / "multi.xlsx")
    _write_multi_sheet_xlsx(p)
    for idx, want in [(0, "sheet1"), (1, "sheet2"), (9, "sheet10"),
                      (10, "sheet11")]:
        pdf = read_xlsx_pandas(p, sheet=idx)
        assert pdf.iloc[0, 0] == want, (idx, pdf.iloc[0, 0])


def test_xlsx_fallback_translates_pandas_options(spark, tmp_path, monkeypatch):
    """ADVICE r3: read_table forwards pandas-style kwargs; the stdlib
    fallback must translate sheet_name= and reject unsupported options
    loudly instead of TypeError-ing."""
    from deduplipy_spark.sources import datasets as ds

    p = str(tmp_path / "multi.xlsx")
    _write_multi_sheet_xlsx(p)

    # simulate the no-openpyxl environment: pd.read_excel raises ImportError
    import pandas as _pd

    monkeypatch.setattr(_pd, "read_excel",
                        lambda *a, **k: (_ for _ in ()).throw(
                            ImportError("no openpyxl")))
    sdf = ds.read_table(spark, p, fmt="xlsx", sheet_name=1, header=None)
    assert sdf.toPandas().iloc[1, 0] == "sheet2"
    with pytest.raises(ValueError, match="integer index"):
        ds.read_table(spark, p, fmt="xlsx", sheet_name="Summary")
    with pytest.raises(ValueError, match="does not support"):
        ds.read_table(spark, p, fmt="xlsx", usecols=[0])
