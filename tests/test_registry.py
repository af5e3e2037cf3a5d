"""The gate registry refuses a name given twice: within one query
module, and across the modules ``all_queries``/``all_oracles`` join."""

import pytest

from disq_spark import queries
from disq_spark.queries.registry import Registry


def test_registry_refuses_a_repeated_name():
    reg = Registry()
    reg.register("g")(len)
    with pytest.raises(ValueError, match="'g' is registered twice"):
        reg.register("g")(len)
    with pytest.raises(ValueError, match="'g' is registered twice"):
        reg["g"] = "SELECT 1"


def test_union_refuses_a_name_two_modules_register(monkeypatch):
    kmer = {"genomics_kmer_spectrum", "genomics_reference_kmer_spectrum"}
    assert kmer <= queries.all_queries().keys() and kmer <= queries.all_oracles().keys()
    clash = Registry(q1_pricing_summary=len)
    monkeypatch.setattr(queries.sampling, "QUERIES", clash)
    with pytest.raises(ValueError, match="'q1_pricing_summary' is registered twice"):
        queries.all_queries()
    monkeypatch.setattr(queries.sampling, "ORACLE", Registry(q1_pricing_summary="SELECT 1"))
    with pytest.raises(ValueError, match="'q1_pricing_summary' is registered twice"):
        queries.all_oracles()
