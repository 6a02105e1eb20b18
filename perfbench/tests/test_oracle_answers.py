import os

import pytest

from engine.fixtures import make_transcripts
from engine.oracle import OracleIndex

from perfbench import streams
from perfbench.workloads import K, oracle_answers


def test_forked_answers_equal_the_oracle_in_process():
    pdf = make_transcripts(200, 4)
    oracle = OracleIndex(list(zip(range(len(pdf)), pdf.text)))
    queries = streams.serve_stream(4, 60)
    got = oracle_answers(oracle, queries)
    assert set(got) == set(queries)
    for q, mode in got:
        assert got[(q, mode)] == oracle.search(q, K, mode)
    with pytest.raises(ChildProcessError):  # every child was reaped
        os.waitpid(-1, os.WNOHANG)
