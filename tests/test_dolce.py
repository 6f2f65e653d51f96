"""DOLCE ontology golden tests (reference query_test.cljc:39-87): the
8-pattern self-join over 84 attribute-heterogeneous entities must produce
exactly 70 binding sets, 33 of them for :dol/particular."""

from __future__ import annotations

import os

import pytest

from radmapper_spark import run
from radmapper_spark.sources.edn import load_file

DOLCE_PATH = "/root/reference/data/testing/onto/dolce-1.edn"


@pytest.fixture(scope="module")
def dolce():
    if not os.path.exists(DOLCE_PATH):
        pytest.skip("reference fixture not present")
    data = load_file(DOLCE_PATH)
    # reference drops these nested attrs before loading (query_test.cljc:41-45)
    return [{k: v for k, v in d.items()
             if k not in ("rdfs/subClassOf", "owl/equivalentClass")} for d in data]


def test_dolce_loaded(dolce):
    assert len(dolce) == 84


def test_eight_pattern_join_golden_counts(dolce):
    src = """( $q := query{[?class :rdf/type            :owl/Class]
                           [?class :resource/iri        ?class-iri]
                           [?class :resource/namespace  ?class-ns]
                           [?class :resource/name       ?class-name]
                           [?rel   :rdfs/domain         ?class-iri]
                           [?rel   :rdf/type            :owl/ObjectProperty]
                           [?rel   :rdfs/range          ?rel-range]
                           [?rel   :resource/name       ?rel-name]} <|keepDBid: true|>;
               $q($data) )"""
    bsets = run(src, bindings={"$data": dolce})
    assert len(bsets) == 70
    assert len([b for b in bsets if b.get("class-iri") == ":dol/particular"]) == 33


def test_owl_class_iris(dolce):
    """db-for-tests-2: the set of owl/Class iris."""
    bsets = run("query{[?class :rdf/type :owl/Class] [?class :resource/iri ?class-iri]}($data)",
                bindings={"$data": dolce})
    got = {b["class-iri"] for b in bsets}
    assert got == {
        ":dol/endurant", ":dol/spatio-temporal-region", ":dol/abstract-region",
        ":dol/physical-region", ":dol/non-physical-endurant", ":dol/region",
        ":dol/quality", ":dol/physical-quality", ":dol/quale", ":dol/particular",
        ":dol/physical-endurant", ":dol/perdurant", ":dol/feature",
        ":dol/time-interval"}


def test_cardinality_many_attribute(dolce):
    """owl/disjointWith is cardinality-many: one binding per element."""
    bsets = run("query{[?e :resource/iri ':dol/abstract-region']"
                "      [?e :owl/disjointWith ?d]}($data)",
                bindings={"$data": dolce})
    assert sorted(b["d"] for b in bsets) == [":dol/physical-region", ":dol/temporal-region"]
