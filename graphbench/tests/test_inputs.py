"""Generated inputs are a pure function of the seed."""

import pytest

import inputs

WORKLOADS = ("graph_tiered", "graph_iterative", "assoc_mining")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_one_seed_gives_identical_inputs(workload, tmp_path):
    first = inputs.write(inputs.tables(workload, 7), str(tmp_path / "a"))
    second = inputs.write(inputs.tables(workload, 7), str(tmp_path / "b"))
    other = inputs.write(inputs.tables(workload, 8), str(tmp_path / "c"))
    assert first == second
    assert all(first[name] != other[name] for name in first)


def test_workloads_share_the_power_law_graph(tmp_path):
    tiered = inputs.write(inputs.tables("graph_tiered", 7), str(tmp_path / "t"))
    iterative = inputs.write(inputs.tables("graph_iterative", 7), str(tmp_path / "i"))
    assert tiered["power_law"] == iterative["power_law"]


def test_shortest_path_sources_are_seeded_and_distinct():
    tab = inputs.tables("graph_tiered", 7)["power_law"]
    sources = inputs.shortest_path_sources(tab, 7)
    assert sources == inputs.shortest_path_sources(tab, 7)
    assert len(set(sources)) == inputs.SP_SOURCES
    assert sources == sorted(sources)
