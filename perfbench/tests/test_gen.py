import pyarrow.parquet as pq

import gen


def test_same_seed_same_tables_other_seed_other_values(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = gen.write_tables(str(a), 7)
    gen.write_tables(str(b), 7)
    gen.write_tables(str(c), 8)
    assert rows == {**gen.ROWS, "region": 5, "nation": 25}
    for name in rows:
        ta = pq.read_table(a / f"{name}.parquet")
        assert ta.equals(pq.read_table(b / f"{name}.parquet"))
        if name not in ("region", "nation"):
            assert not ta.equals(pq.read_table(c / f"{name}.parquet"))


def test_month_reports_its_actual_shares(tmp_path):
    path = str(tmp_path / "month.parquet")
    info = gen.write_month(path, seed=3)
    t = pq.read_table(path)
    assert info["rows"] == t.num_rows
    assert info["null_share"] == t["value"].null_count / t.num_rows
    distinct = len(t.to_pandas().drop_duplicates())
    assert info["dup_share"] == (t.num_rows - distinct) / t.num_rows
    assert 0.005 < info["null_share"] < 0.02 and 0.01 < info["dup_share"] < 0.03
    # replicas keep disjoint event_id ranges: every id is one base row of one replica
    assert t["event_id"].to_pandas().max() == gen.MONTH_REPLICAS * gen.MONTH_BASE_ROWS - 1


def test_documents_hold_near_duplicate_families(tmp_path):
    gen.write_tables(str(tmp_path), 5)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    texts = set(docs["text"])
    dups = docs[docs["text"].str.endswith(" dup")]
    assert len(dups) == round(len(docs) * gen.NEAR_DUP_DOC_SHARE)
    # each near-duplicate is another document's text plus " dup"
    assert all(t[: -len(" dup")] in texts for t in dups["text"])
    assert docs["text"].nunique() == len(docs)
    assert (docs["n_chars"] == docs["text"].str.len()).all()


def test_event_timestamps_are_naive_microseconds(tmp_path):
    # the fixture tables store ts as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    path = str(tmp_path / "month.parquet")
    gen.write_month(path, seed=1)
    gen.write_tables(str(tmp_path / "t"), 1)
    for p in (path, str(tmp_path / "t" / "events.parquet")):
        ts = pq.ParquetFile(p).schema.column(1)
        assert ts.name == "ts"
        assert "isAdjustedToUTC=false, timeUnit=microseconds" in str(ts.logical_type)
