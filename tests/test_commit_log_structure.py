"""Structure guard: the commit log has ONE reader and ONE writer.

Every read of ``_log/`` goes through ``operators.encode.CommitLog`` (one
listing, one checkpoint + JSON-tail replay), and every log file is created
by ``operators.encode.append_log_entry`` (the conflict-checked commit).
This test parses the package sources and fails when any other top-level
function or class lists the log directory, reads a file under it, or
exclusive-creates one — the shape that let separate walkers disagree about
checkpoints and let commits retry blindly."""

import ast
from pathlib import Path

PKG = (Path(__file__).resolve().parents[1]
       / "pandora_apache_avro_idl_to_apache_parquet_spark")
READS = {"listdir", "read_text", "read_bytes"}


def _mentions_log(node: ast.AST, tainted: set[str]) -> bool:
    for n in ast.walk(node):
        if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                and (n.value == "_log" or n.value.startswith("_log/"))):
            return True
        if isinstance(n, (ast.Name, ast.Attribute)) and ast.unparse(n) in tainted:
            return True
    return False


def _log_io_calls(unit: ast.AST) -> set[str]:
    """Method names of the calls in ``unit`` whose first argument is the log
    directory or a path under it. A name (or ``self.attr``) assigned from
    such a path is tracked to a fixed point, nested defs included."""
    tainted: set[str] = set()
    changed = True
    while changed:
        changed = False
        for n in ast.walk(unit):
            if not isinstance(n, ast.Assign):
                continue
            for t in n.targets:
                # `a, b = x, y` pairs up; any other target takes the value
                pairs = (zip(t.elts, n.value.elts)
                         if isinstance(t, ast.Tuple)
                         and isinstance(n.value, ast.Tuple)
                         else [(t, n.value)])
                for tgt, val in pairs:
                    key = ast.unparse(tgt)
                    if key not in tainted and _mentions_log(val, tainted):
                        tainted.add(key)
                        changed = True
    return {
        n.func.attr for n in ast.walk(unit)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.args and _mentions_log(n.args[0], tainted)
    }


def _log_touchers() -> tuple[set[str], set[str]]:
    readers: set[str] = set()
    creators: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        for unit in ast.parse(path.read_text()).body:
            if not isinstance(unit, (ast.FunctionDef, ast.ClassDef)):
                continue
            calls = _log_io_calls(unit)
            name = f"{path.relative_to(PKG).as_posix()}:{unit.name}"
            if calls & READS:
                readers.add(name)
            if "create_exclusive" in calls:
                creators.add(name)
    return readers, creators


def test_one_log_reader_and_one_log_writer():
    readers, creators = _log_touchers()
    assert readers == {"operators/encode.py:CommitLog"}, sorted(readers)
    assert creators == {"operators/encode.py:append_log_entry"}, sorted(creators)
