"""The benchmark's inputs are a function of the seed alone.

Run from the root of a checkout:

    python3 -m pytest perfbench/test_inputs.py -q
"""

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import inputs  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from functime_spark.session import get_session

    s = get_session(
        "perfbench-tests",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "1g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_panel_content_follows_seed(spark):
    def digest(seed):
        return inputs.content_hash(inputs.panel(spark, seed, 20, 48))

    assert digest(7) == digest(7)
    assert digest(7) != digest(8)


def test_corpus_content_follows_seed(spark):
    def digest(seed):
        c = inputs.corpus(seed, 50, 5, 10)
        return inputs.content_hash(inputs.corpus_frame(spark, c, 2))

    assert digest(7) == digest(7)
    assert digest(7) != digest(8)


def test_corpus_plants_exact_and_near_copies():
    c = inputs.corpus(3, 50, 5, 10)
    text = dict(c.docs)
    assert sorted(text) == list(range(65))
    copies = [i for i, base in c.group.items() if i != base]
    assert len(copies) == 15
    exact = [i for i in copies if text[i] == text[c.group[i]]]
    assert len(exact) == 5
    for i in set(copies) - set(exact):
        a, b = text[i].split(), text[c.group[i]].split()
        assert sum(x != y for x, y in zip(a, b)) == 2
