"""Driver-contract registry invariants.

The driver records correctness for the FIRST 50 entries of ``queries()`` in
dict order (observed round 2: CORRECTNESS_r02.json was exactly the first 50
of 58, silently dropping the flagship family registered last). These
invariants freeze the round-3 fix: the 8 extract_* golden-equality queries
come first, the registry holds exactly 50 entries, and every query carries
an exact DuckDB oracle with no strays.
"""

import importlib.util
import json
import os

import pytest


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "entry_mod",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_registry_window_and_oracle_parity():
    m = _load_entry()
    q = m.queries()
    o = m.oracle_sql()
    names = list(q)
    assert len(names) == 50, (
        f"registry must stay EXACTLY 50 entries (driver window); got "
        f"{len(names)} — fold near-duplicates instead of appending"
    )
    flagship = [
        "extract_flagship",
        "extract_spans",
        "extract_paragraphs",
        "extract_formula",
        "extract_plain_sql",
        "extract_walk",
        "extract_routed",
        "extract_kind_stats",
    ]
    assert names[: len(flagship)] == flagship, (
        "the extract_* golden-equality family must be registered FIRST "
        f"(driver records the first 50 in dict order); head is {names[:8]}"
    )
    assert set(q) == set(o), (
        f"1:1 query/oracle parity broken: missing={sorted(set(q) - set(o))} "
        f"stray={sorted(set(o) - set(q))}"
    )
    assert "e2e_spotting" in q  # the §2.9 closer stays registered


def test_golden_quiet_without_documents(tmp_path, monkeypatch):
    """No documents.parquet → no golden dir can exist → quiet, nothing built."""
    from paddleocr_spark import golden

    monkeypatch.setattr(golden, "GOLDEN_ROOT", str(tmp_path / "golden"))
    _load_entry()._golden_quiet(str(tmp_path / "sf_absent"))
    assert not (tmp_path / "golden").exists()


@pytest.mark.parametrize("corrupt", ["meta_json", "table"])
def test_golden_quiet_raises_on_corrupt_dir(tmp_path, monkeypatch, corrupt):
    from paddleocr_spark import golden

    monkeypatch.setattr(golden, "GOLDEN_ROOT", str(tmp_path / "golden"))
    sf = tmp_path / "sf_corrupt"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"stat-only stand-in")
    dest = tmp_path / "golden" / "sf_corrupt"
    dest.mkdir(parents=True)
    if corrupt == "meta_json":
        (dest / "meta.json").write_text("{not json")
    else:
        # current stamp, but the tables are garbage
        (dest / "meta.json").write_text(json.dumps({"stamp": golden._stamp(str(sf))}))
        for name in golden.GOLDEN_TABLES:
            (dest / name).write_bytes(b"not parquet")
    with pytest.raises(golden.GoldenCorruptError):
        _load_entry()._golden_quiet(str(sf))
