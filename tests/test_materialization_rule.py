"""The package's one materialization rule (stated in
`similardocs_spark/util.py`): reuse inside a query is a lazy local
checkpoint, and only the serving engine's `cache=True` tables persist.
This scan fails on any `.persist(`, `.cache()` or `unpersist(` call
elsewhere, naming its file and line."""
from __future__ import annotations

import io
import tokenize
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "similardocs_spark"
# the serving engine's long-lived cache (SearchEngine(cache=True))
ALLOWED = {("query/engine.py", "persist")}


def _calls(path: Path) -> list[tuple[int, str]]:
    """(line, name) of every `.persist(`, `.cache(` and `.unpersist(` call
    in the code of `path` — comments and strings are separate tokens, so
    prose about them does not count."""
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        if t.type in (tokenize.NAME, tokenize.OP)
    ]
    return [
        (t.start[0], t.string)
        for prev, t, nxt in zip(toks, toks[1:], toks[2:])
        if prev.string == "." and nxt.string == "("
        and t.string in ("persist", "cache", "unpersist")
    ]


def test_only_the_serving_engine_persists():
    found = [
        f"{path.relative_to(PKG)}:{line}: .{name}("
        for path in sorted(PKG.rglob("*.py"))
        for line, name in _calls(path)
        if (path.relative_to(PKG).as_posix(), name) not in ALLOWED
    ]
    assert not found, "reuse a frame through localCheckpoint(eager=False):\n" + "\n".join(found)


def test_scan_sees_calls_and_skips_prose(tmp_path):
    f = tmp_path / "m.py"
    f.write_text(
        '"""df.persist() in a docstring"""\n'
        "x = df.persist()  # .cache() in a comment\n"
        "y = df.cache()\n"
        "df.unpersist(blocking=True)\n"
    )
    assert _calls(f) == [(2, "persist"), (3, "cache"), (4, "unpersist")]
