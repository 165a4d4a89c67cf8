"""Gate outputs that canonicalize: no top-level array or map column,
since the correctness gate sorts rows as pandas cells and raises on
list/dict cells."""

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_DIR
from tools.check_oracle import nested_columns


@pytest.mark.parametrize(
    "name, joined",
    [("token_affix_documents", "affix"), ("suggest_constraints_lineitem", "values")],
)
def test_reshaped_gate_has_scalar_columns(spark, name, joined):
    out = entry.queries()[name](spark, SF_DIR)
    assert nested_columns(out.schema) == []
    assert out.schema[joined].dataType.simpleString() == "string"
    assert out.count() > 0
