"""tools/determinism_check.py fingerprint contract: the per-entry
fingerprint is a multiset hash of the result rows, so a result that gains
or loses rows — duplicates included — fingerprints differently."""

from tools.determinism_check import _fingerprint


def test_fingerprint_counts_duplicate_rows(spark):
    schema = "id long, v double"
    r, s = (1, 0.5), (2, 0.25)

    def fp(rows):
        return _fingerprint(spark.createDataFrame(rows, schema))

    assert fp([r, r]) != fp([])
    # same row count, different content: an XOR fold of the row hashes
    # cancels each identical pair and cannot tell these apart
    assert fp([r, r]) != fp([s, s])
    assert fp([r, s, s]) != fp([r, r, r])
    # a multiset hash: row order does not matter
    assert fp([r, s]) == fp([s, r])
