"""The run instructions in the docs name files that exist: every
``python``/``python3 <path>.py`` command in README.md and the verify recipe
must point at a file in the repo."""

import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
DOCS = ["README.md", ".claude/skills/verify/SKILL.md"]
COMMAND = re.compile(r"\bpython3?\s+([\w./-]+\.py)\b")


@pytest.mark.parametrize("doc", DOCS)
def test_doc_commands_name_existing_files(doc):
    scripts = COMMAND.findall((ROOT / doc).read_text())
    assert scripts, f"{doc} names no python command"
    missing = sorted({s for s in scripts if not (ROOT / s).is_file()})
    assert not missing, f"{doc} runs files that do not exist: {missing}"
