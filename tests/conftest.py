import os

import pytest

# The reference repository, checked out next to this one.  The tests that
# read its abbreviation list or its full ontology skip without it.
REFERENCE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
)


def assigned_frame(spark, rows, start=0):
    """A hand-built assigned-triples frame (the input of build_graph and
    the paragraph builders).  rows: (url, n1_type, n1_props, rel, n2_type,
    n2_props) at span 0, or (url, span_start, n1_type, ...); each node's
    labels are [its type]; triple ids count ``t{start}``, ``t{start+1}``, …
    so per-batch and single-shot frames carry identical ids."""
    data = []
    for i, row in enumerate(rows):
        url, span, t1, p1, rel, t2, p2 = row if len(row) == 7 else (row[0], 0, *row[1:])
        data.append((url, span, f"t{start + i}", t1, [t1], p1, rel, t2, [t2], p2))
    return spark.createDataFrame(
        data,
        "url string, span_start long, triple_id string, "
        "node1_type string, node1_labels array<string>, "
        "node1_props map<string,string>, relationship string, "
        "node2_type string, node2_labels array<string>, "
        "node2_props map<string,string>",
    )


@pytest.fixture(scope="session")
def spark():
    from ontologybasedkgcreation_spark.session import get_spark

    # master: get_spark's default, local[$SPARK_GRAFT_CPUS]
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
