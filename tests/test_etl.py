"""ETL layer tests mirroring the reference's suite (SURVEY.md §5):
header inference, sheet wrangling, template/manual transform paths,
multi-sheet processing, note-tag cleaning, key normalisation.
"""

import pandas as pd
import pytest
from pyspark.sql import Row, functions as F

from queens_spark.etl.transformations import (
    call_transformer,
    is_data_sheet,
    normalize_sheet_key,
    process_multi_sheets,
    process_sheet,
    process_stacked_sheet,
)
from queens_spark.operators.reshape import clean_note_tags, ffill, with_row_ordinal
from queens_spark.sources.excel import infer_header_row, wrangle_workbook


def raw_sheet(titled=True):
    """FIXTURES.md §1 wide_sheet with junk title rows, no header."""
    rows = []
    if titled:
        rows += [["DUKES 1.1 Energy balance", None, None],
                 [None, None, None]]
    rows += [
        ["rowhdr", "y2019", "y2020"],
        ["Production", 1.0, 4.0],
        ["Imports [note 2]", 2.5, 5.5],
        ["Stock change [note 4]", -0.5, 0.25],
    ]
    return pd.DataFrame(rows)


def template_df(spark):
    """FIXTURES.md §2 mapping template."""
    return spark.createDataFrame([
        Row(row=0, label="Production", group="Supply", unit="ktoe"),
        Row(row=1, label="Imports [note 2]", group="Supply", unit="ktoe"),
        Row(row=2, label="Stock change [note 4]", group="Supply", unit="ktoe"),
    ])


# ------------------------------------------------------------- reader

def test_header_inference_with_title_rows():
    assert infer_header_row(raw_sheet(titled=True)) == 2
    assert infer_header_row(raw_sheet(titled=False)) == 0


def test_wrangle_skips_notes_and_named_sheets():
    sheets = {
        "1.1": raw_sheet(),
        "notes": pd.DataFrame({"a": ["only one column"]}),
        "skipme": raw_sheet(),
    }
    out = wrangle_workbook(sheets, skip_sheets=["skipme"])
    assert set(out) == {"1.1"}
    assert list(out["1.1"].columns) == ["rowhdr", "y2019", "y2020"]
    assert len(out["1.1"]) == 3


def test_wrangle_single_sheet_and_missing_key():
    out = wrangle_workbook({"1.1": raw_sheet()}, sheet_name="1.1")
    assert list(out.columns) == ["rowhdr", "y2019", "y2020"]
    with pytest.raises(KeyError):
        wrangle_workbook({"1.1": raw_sheet()}, sheet_name="9.9")


def test_wrangle_multi_header_skips_extra_row():
    out = wrangle_workbook({"1.1": raw_sheet()}, has_multi_headers=True)
    assert len(out["1.1"]) == 2  # first data row consumed as 2nd header line


def test_wrangle_fixed_header_override():
    out = wrangle_workbook({"1.1": raw_sheet(titled=False)}, fixed_header=0)
    assert list(out["1.1"].columns) == ["rowhdr", "y2019", "y2020"]


# ------------------------------------------------- sheet transformers

def test_process_sheet_template_path(spark):
    wrangled = wrangle_workbook({"1.1": raw_sheet()})["1.1"]
    out = process_sheet(spark, wrangled, template=template_df(spark),
                        var_to_melt="year")
    rows = out.collect()
    # 3 template rows × 2 years
    assert len(rows) == 6
    d = {(r["label"], r["year"]): r["value"] for r in rows}
    assert d[("Production", "y2019")] == "1.0"
    assert d[("Stock change [note 4]", "y2020")] == "0.25"
    # note tags cleaned everywhere EXCEPT label
    assert {r["group"] for r in rows} == {"Supply"}


def test_xlsx_numeric_year_header_melts(tmp_path, spark):
    """Real DUKES workbooks carry numeric year headers. Over a column of
    float cells the header must read back as 2019, not 2019.0, or the
    melted year cannot be typed."""
    from queens_spark.sources.xlsx_lite import (
        read_workbook_xlsx,
        write_workbook_xlsx,
    )

    rows = raw_sheet().values.tolist()
    rows[2] = ["rowhdr", 2019, 2020]
    path = str(tmp_path / "numeric_header.xlsx")
    write_workbook_xlsx(path, {"1.1": pd.DataFrame(rows, dtype=object)},
                        header=False)
    wrangled = wrangle_workbook(read_workbook_xlsx(path))["1.1"]
    assert list(wrangled.columns) == ["rowhdr", "2019", "2020"]
    out = process_sheet(spark, wrangled, template=template_df(spark),
                        var_to_melt="year")
    d = {(r["label"], r["year"]): r["value"] for r in out.collect()}
    assert d[("Production", "2019")] == "1.0"
    assert d[("Stock change [note 4]", "2020")] == "0.25"


def test_process_sheet_manual_path(spark):
    wrangled = wrangle_workbook({"1.1": raw_sheet()})["1.1"]
    out = process_sheet(spark, wrangled, ignore_mapping=True,
                        id_var_name="fuel", unit="GWh", var_to_melt="year")
    rows = out.collect()
    assert len(rows) == 6
    by_label = {(r["label"], r["year"]): r for r in rows}
    r = by_label[("Imports [note 2]", "y2019")]
    assert r["value"] == "2.5"
    assert r["unit"] == "GWh"
    # label keeps the tag; the copied fuel column is cleaned
    assert r["fuel"] == "Imports"


def test_process_sheet_transpose_first(spark):
    pdf = pd.DataFrame({
        "year": ["Production", "Imports"],
        "2019": [1.0, 2.5],
        "2020": [4.0, 5.5],
    })
    out = process_sheet(spark, pdf, ignore_mapping=True, transpose_first=True,
                        id_var_name="label", var_to_melt="fuel")
    rows = out.collect()
    # transposed: 2 year-rows × 2 fuel columns
    assert len(rows) == 4
    d = {(r["label"], r["fuel"]): r["value"] for r in rows}
    assert d[("2019", "Production")] == "1.0"
    assert d[("2020", "Imports")] == "5.5"


def test_process_multi_sheets(spark):
    sheets = {
        "2019": wrangle_workbook({"x": raw_sheet()})["x"],
        "2020": wrangle_workbook({"x": raw_sheet()})["x"],
        "meta": pd.DataFrame({"a": [1]}),
    }
    out = process_multi_sheets(
        spark, sheets, var_on_sheets="year",
        template=template_df(spark), var_to_melt="subyear",
    )
    rows = out.collect()
    # 2 sheets × 3 rows × 2 melted cols
    assert len(rows) == 12
    assert {r["year"] for r in rows} == {"2019", "2020"}


def test_process_stacked_sheet_modular_join(spark):
    # two stacked copies of a 3-row sub-table
    pdf = pd.DataFrame({
        "rowhdr": ["Production", "Imports", "Exports"] * 2,
        "v": [1, 2, 3, 10, 20, 30],
    })
    template = spark.createDataFrame([
        Row(row=0, label="Production"),
        Row(row=1, label="Imports"),
        Row(row=2, label="Exports"),
    ])
    out = process_stacked_sheet(spark, pdf, template, 3, var_to_melt="col")
    rows = out.collect()
    assert len(rows) == 6
    vals = sorted(float(r["value"]) for r in rows if r["label"] == "Imports")
    assert vals == [2.0, 20.0]


def test_is_data_sheet_and_key_normalisation():
    assert is_data_sheet("2019")
    assert not is_data_sheet("meta")
    assert is_data_sheet("4.4a", regex=r"4\.4[a-z]")
    with pytest.raises(ValueError):
        is_data_sheet("x", regex="[invalid")
    assert normalize_sheet_key("4.4a") == "4.4.A"
    assert normalize_sheet_key("1.1") == "1.1"


def test_call_transformer_filters_kwargs(spark):
    wrangled = wrangle_workbook({"1.1": raw_sheet()})["1.1"]
    out = call_transformer(
        "process_sheet", spark=spark, sheet=wrangled,
        template=template_df(spark), var_to_melt="year",
        url="http://ignored", data_collection="ignored_too",
    )
    assert out.count() == 6


# --------------------------------------------------------- primitives

def test_clean_note_tags(spark):
    df = spark.createDataFrame([Row(s="Coal [note 12] "), Row(s="Gas [NOTE 3]"),
                                Row(s="plain")])
    got = [r[0] for r in df.select(clean_note_tags("s")).collect()]
    assert got == ["Coal", "Gas", "plain"]


def test_ffill_operator(spark):
    df = spark.createDataFrame(
        [Row(i=1, v="a"), Row(i=2, v=None), Row(i=3, v="b"), Row(i=4, v=None)]
    )
    out = {r["i"]: r["v"] for r in ffill(df, "v", order_by=["i"]).collect()}
    assert out == {1: "a", 2: "a", 3: "b", 4: "b"}


def test_with_row_ordinal(spark):
    df = spark.createDataFrame([Row(k="b"), Row(k="c"), Row(k="a")])
    out = with_row_ordinal(df, order_by=["k"]).collect()
    assert {(r["k"], r["row"]) for r in out} == {("a", 0), ("b", 1), ("c", 2)}


# ------------------------------------------- DUKES special processors

def summaries_sheet():
    """5.6.J shape: stacked yearly copies, year in interim title rows,
    the first copy's year only in the sheet title (original header)."""
    return pd.DataFrame(
        [
            ["Generator type", "Indicator", "Gas [note 1]", "Coal"],
            ["Major power producers", "Capacity", "10", "20"],
            ["Autogenerators", "Capacity", "1", "2"],
            ["Table 5.6.J 2021 summary", None, None, None],
            ["Generator type", "Indicator", "Gas [note 1]", "Coal"],
            ["Major power producers", "Capacity", "11", "21"],
            ["Autogenerators", "Capacity", "3", "4"],
        ],
        columns=["Table 5.6.J 2020 summary", "Unnamed: 1", "Unnamed: 2",
                 "Unnamed: 3"],
    )


def summaries_template(spark):
    return spark.createDataFrame([
        Row(row=0, label="Major power producers", group="MPP", item="Capacity",
            unit="MW"),
        Row(row=1, label="Autogenerators", group="Auto", item="Capacity",
            unit="MW"),
    ])


def test_process_dukes_5_6_summaries(spark):
    from queens_spark.etl.transformations import process_dukes_5_6_summaries

    out = process_dukes_5_6_summaries(
        spark, summaries_sheet(), summaries_template(spark), 2
    ).collect()
    # 4 surviving data rows x 2 fuel columns
    assert len(out) == 8
    got = {(r["year"], r["label"], r["fuel"]): r["value"] for r in out}
    # title year ffilled; first copy backstopped from the sheet title
    assert got[("2020", "Major power producers", "Gas")] == "10"
    assert got[("2020", "Autogenerators", "Coal")] == "2"
    assert got[("2021", "Major power producers", "Gas")] == "11"
    assert got[("2021", "Autogenerators", "Coal")] == "4"
    # note tags cleaned on the melted fuel name
    assert {r["fuel"] for r in out} == {"Gas", "Coal"}
    # template dims attached via the modular join
    assert {r["group"] for r in out} == {"MPP", "Auto"}


def test_process_dukes_5_6_and_5_10_dicts(spark):
    from queens_spark.etl.transformations import (
        process_dukes_5_10,
        process_dukes_5_6,
    )

    std = raw_sheet(titled=False)
    std = std.rename(columns=std.iloc[0]).iloc[1:].reset_index(drop=True)
    tpl = template_df(spark)
    sheets_56 = {
        "5.6": std.assign(Fuel="x"),
        "5.6 Conventional thermal & CCGT": std.assign(**{"Generator category": "y"}),
        "5.6 Annual summaries": summaries_sheet(),
    }
    tpls_56 = {
        "5.6": tpl,
        "5.6 Conventional thermal & CCGT": tpl,
        "5.6 Annual summaries": summaries_template(spark),
    }
    out = process_dukes_5_6(spark, sheets_56, tpls_56, 2)
    assert set(out) == {"5.6.A_G", "5.6.H_I", "5.6.J"}
    # the configured drop_cols must not leak into the long output
    assert "Fuel" not in out["5.6.A_G"].columns
    assert out["5.6.A_G"].count() == 6  # 3 template rows x 2 years

    sheets_510 = {
        "5.10.A": std.assign(Region="r"),
        "5.10.B and 5.10.C": std,
    }
    tpls_510 = {"5.10.A": tpl, "5.10.B and 5.10.C": tpl}
    out = process_dukes_5_10(spark, sheets_510, tpls_510)
    assert set(out) == {"5.10.A", "5.10.B_C"}
    assert out["5.10.B_C"].count() == 6
