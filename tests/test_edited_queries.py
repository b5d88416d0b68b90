"""tools/edited_queries.py flags a registered query exactly when its
fingerprint changes: its code without docstrings and imports, its
decorator (the oracle SQL) and the query-module definitions it reaches.
Checked on a two-module package in a throwaway git repository."""

from __future__ import annotations

import importlib.util
import os
import subprocess

import pytest

_TOOL = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "edited_queries.py")

_REGISTRY = '''
QUERIES = {}


def query(name, oracle=None):
    def deco(fn):
        QUERIES[name] = fn
        return fn
    return deco


def fround(c, n):
    return round(c, n)
'''

_A = '''
"""Module a."""
from sync_cosmos_db_spark.operators import ops as O
from sync_cosmos_db_spark.queries import fround, query

_ORACLE = """SELECT x FROM t WHERE x < 3"""


def _helper(x):
    return x + 1


@query("q_const", _ORACLE)
def q_const(spark, sf_dir):
    """Reads t."""
    return O.scan(spark, sf_dir)


@query("q_helper_1")
def q_helper_1(spark, sf_dir):
    return _helper(1)


@query("q_helper_2")
def q_helper_2(spark, sf_dir):
    return fround(_helper(2), 2)


@query("q_moved", "SELECT 1")
def q_moved(spark, sf_dir):
    """Moves to module b."""
    import os
    return O.scan(spark, os.path.join(sf_dir, "m"))
'''

_B = '''
from sync_cosmos_db_spark.queries import query


@query("q_body")
def q_body(spark, sf_dir):
    return sf_dir + "/x"
'''


def _move(files):
    a = files["queries_a.py"]
    i = a.index('@query("q_moved"')
    files["queries_a.py"] = a[:i]
    # another alias for the same module: the bare name is what counts
    files["queries_b.py"] = (
        "from sync_cosmos_db_spark.operators import ops as OPS\n"
        + files["queries_b.py"] + "\n\n"
        + a[i:].replace("O.scan", "OPS.scan"))


def _doc_and_comment(files):
    files["queries_a.py"] = files["queries_a.py"].replace(
        '"""Reads t."""', '"""Reads table t."""  # the only input')


def _oracle(files):
    files["queries_a.py"] = files["queries_a.py"].replace("x < 3", "x < 4")


def _helper(files):
    files["queries_a.py"] = files["queries_a.py"].replace(
        "return x + 1", "return x + 2")


def _body(files):
    files["queries_b.py"] = files["queries_b.py"].replace('"/x"', '"/y"')


@pytest.mark.parametrize("edit, flagged", [
    (_move, []),
    (_doc_and_comment, []),
    (_oracle, ["q_const"]),
    (_helper, ["q_helper_1", "q_helper_2"]),
    (_body, ["q_body"]),
], ids=["pure_move", "docstring_comment", "oracle_constant",
        "same_module_helper", "body"])
def test_fingerprint_flags(tmp_path, edit, flagged):
    spec = importlib.util.spec_from_file_location("edited_queries", _TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    files = {"queries.py": _REGISTRY, "queries_a.py": _A,
             "queries_b.py": _B}
    pkg = tmp_path / tool.PKG
    pkg.mkdir()

    def write():
        for name, src in files.items():
            (pkg / name).write_text(src)

    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=tmp_path, check=True,
                       capture_output=True)

    write()
    git("init", "-q")
    git("add", "-A")
    git("commit", "-q", "-m", "base")
    assert tool.edited_queries("HEAD", repo=tmp_path) == []
    edit(files)
    write()
    assert sorted(tool.edited_queries("HEAD", repo=tmp_path)) == flagged
