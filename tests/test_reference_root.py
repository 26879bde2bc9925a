"""The reference tree is one named environment input: a host without it
gets ReferenceTreeAbsent naming the missing path, never a bare
FileNotFoundError from inside a query."""

import pytest

from palladian_spark.sources import reference


def test_reference_path_names_the_missing_tree(monkeypatch, tmp_path):
    (tmp_path / "src").mkdir()
    monkeypatch.setattr(reference, "REFERENCE_ROOT", str(tmp_path))
    assert reference.reference_path("src") == str(tmp_path / "src")
    with pytest.raises(reference.ReferenceTreeAbsent, match="reference tree absent"):
        reference.reference_path("src", "missing.txt")


def test_ner_reference_agreement_reports_absent_tree(spark, monkeypatch, tmp_path):
    import __spark_entry__ as ent

    monkeypatch.setattr(reference, "REFERENCE_ROOT", str(tmp_path / "absent"))
    with pytest.raises(reference.ReferenceTreeAbsent, match=str(tmp_path)):
        ent.queries()["ner_reference_agreement"](spark, None)
