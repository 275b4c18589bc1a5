"""The driver registry must fail loudly: a query module that cannot be
imported raises instead of silently dropping its queries."""

from __future__ import annotations

import sys

import pytest

import __spark_entry__


def test_queries_raise_when_a_module_fails_to_import(monkeypatch):
    assert "corpus_prep_final" in __spark_entry__.queries()
    # a None entry makes the import system raise ModuleNotFoundError
    monkeypatch.setitem(sys.modules, "ocr_dataset_builder_spark.queries_final", None)
    with pytest.raises(ImportError):
        __spark_entry__.queries()
