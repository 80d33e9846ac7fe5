import pyarrow as pa

from datagen import build_tables


def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = build_tables(0.001, 7), build_tables(0.001, 7), build_tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_schemas_and_row_counts():
    t = build_tables(0.001, 42)
    assert t["lineitem"].num_rows == 6000 and t["orders"].num_rows == 1500
    assert t["nation"].num_rows == 25 and t["region"].num_rows == 5
    assert t["orders"].schema.field("o_orderdate").type == pa.timestamp("us")
    assert t["events"].schema.field("ts").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert t["nation"].schema.field("n_nationkey").type == pa.int32()
    docs = t["documents"].to_pydict()
    assert docs["n_chars"] == [len(s) for s in docs["text"]]
    assert t["events"].column("ts").to_pylist() == sorted(t["events"].column("ts").to_pylist())
