#!/usr/bin/env python3
"""Count graft's user-facing knobs from the source tree and print each count.

    python3 tools/knobs.py [repo-root] [--list]

Counts (distinct keys; `--list` prints them too):
  read options   keys the DataSource sources read from a reader's or
                 writer's option map (`options`/`parameters` lookups with a
                 literal key, or with a string constant defined in one of
                 them, in GraftV2.scala, GraftSource.scala and
                 GraftStreamSource.scala)
  table options  keys GraftTable reads from its table options (literal or
                 `s"..."`-templated lookups in GraftTable.scala, lookups by
                 a string constant defined there, and `table.options`
                 lookups in other source files); a template's `$x` parts
                 print as <x>
  config keys    `spark.graft.*` session conf keys and `graft.*` JVM
                 system properties named anywhere under src/main
  public GraftTable methods / parameters
                 `def`s of class GraftTable without an access modifier,
                 and the total number of parameters across their
                 parameter lists
"""
import os
import re
import sys

args = [a for a in sys.argv[1:] if not a.startswith("--")]
root = args[0] if args else os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
show = "--list" in sys.argv
src = os.path.join(root, "src", "main", "scala", "graft")
sources = os.path.join(src, "sources")


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


LOOKUP = r"\.(?:get|getOrElse|contains|containsKey)\("

READ_FILES = ["GraftV2.scala", "GraftSource.scala", "GraftStreamSource.scala"]
READ_LOOKUP = r"\b(?:options|parameters)" + LOOKUP
read_texts = [read(os.path.join(sources, name)) for name in READ_FILES]
read_constants = {}
for text in read_texts:
    read_constants.update(re.findall(r'\bval (\w+)\s*=\s*"([^"]+)"', text))
read_keys = set()
for text in read_texts:
    read_keys |= set(re.findall(READ_LOOKUP + r'"([^"$]+)"', text))
    read_keys |= {read_constants[c] for c in re.findall(
        READ_LOOKUP + r"(?:\w+\.)?(\w+)[,)]", text) if c in read_constants}


def template(key):
    return re.sub(r"\$\{?(\w+)\}?", r"<\1>", key)


table_src = read(os.path.join(sources, "GraftTable.scala"))
table_keys = set(re.findall(r"\boptions" + LOOKUP + r'"([^"$]+)"', table_src))
table_keys |= {template(k) for k in re.findall(r"\boptions" + LOOKUP + r's"([^"]+)"', table_src)}
constants = dict(re.findall(r'\bval (\w+)\s*=\s*"([^"]+)"', table_src))
table_keys |= {constants[c] for c in re.findall(
    r"\boptions" + LOOKUP + r"(?:GraftTable\.)?(\w+)[,)]", table_src) if c in constants}
for name in sorted(os.listdir(sources)):
    if name.endswith(".scala") and name != "GraftTable.scala":
        text = read(os.path.join(sources, name))
        table_keys |= set(re.findall(r"\btable\.options" + LOOKUP + r'"([^"$]+)"', text))

config_keys = set()
for dirpath, _, files in os.walk(src):
    for name in files:
        if name.endswith(".scala"):
            text = read(os.path.join(dirpath, name))
            config_keys |= set(re.findall(r'"(spark\.graft\.[A-Za-z0-9._-]+)"', text))
            config_keys |= set(re.findall(
                r'(?:getBoolean|getProperty|getLong|getInteger)\("(graft\.[A-Za-z0-9._-]+)"', text))


def class_body(text, name):
    """Text of `class <name>`'s body (brace-matched, string literals skipped)."""
    m = re.search(r"^(?:final )?class " + name + r"\b", text, re.M)
    i = text.index("{", m.end())
    depth, j = 0, i
    while True:
        c = text[j]
        if c == '"':
            if text.startswith('"""', j):
                j = text.index('"""', j + 3) + 3
                continue
            j += 1
            while text[j] != '"':
                j += 2 if text[j] == "\\" else 1
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return text[i + 1:j]
        j += 1


def param_count(sig):
    """Parameters across the parameter lists at the start of `sig`."""
    n, j = 0, 0
    while j < len(sig) and sig[j] in " \n([":
        if sig[j] == "[":  # type parameters
            j = skip_group(sig, j)
            continue
        if sig[j] != "(":
            j += 1
            continue
        end = skip_group(sig, j)
        inner = sig[j + 1:end - 1]
        if inner.strip():
            n += 1 + top_level_commas(inner)
        j = end
    return n


def skip_group(s, j):
    depth = 0
    while True:
        c = s[j]
        if c == '"':
            j += 1
            while s[j] != '"':
                j += 2 if s[j] == "\\" else 1
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1


def top_level_commas(s):
    depth, n, j = 0, 0, 0
    while j < len(s):
        c = s[j]
        if c == '"':
            j += 1
            while s[j] != '"':
                j += 2 if s[j] == "\\" else 1
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            n += 1
        j += 1
    return n


body = class_body(table_src, "GraftTable")
methods = []
for m in re.finditer(r"^  ((?:override |final |@\w+ )*)def (\w+)", body, re.M):
    line_start = body.rfind("\n", 0, m.start()) + 1
    if re.search(r"\b(private|protected)\b", body[line_start:m.start()] + m.group(1)):
        continue
    methods.append((m.group(2), param_count(body[m.end():])))

counts = [
    ("read options", len(read_keys), sorted(read_keys)),
    ("table options", len(table_keys), sorted(table_keys)),
    ("config keys", len(config_keys), sorted(config_keys)),
    ("public GraftTable methods", len(methods), [f"{n}/{p}" for n, p in methods]),
    ("public GraftTable method parameters", sum(p for _, p in methods), []),
]
for label, n, items in counts:
    print(f"{label}: {n}")
    if show and items:
        print("  " + ", ".join(items))
