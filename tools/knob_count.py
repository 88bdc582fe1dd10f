#!/usr/bin/env python3
"""Knob census of the program code: prints ONE JSON line with
  - main_lines: line count of every .scala/.java file under the source root;
  - graft_keys: sorted distinct `graft.*` keys read from a session conf
    (`conf.get/getOption/contains`) or a JVM system property
    (`sys.props.get/getOrElse`, `System.getProperty`);
  - env_vars: sorted distinct `SPARK_GRAFT_*` environment variables read
    (`sys.env.get/getOrElse/contains/apply`, `System.getenv`);
  - stale: sorted `SPARK_GRAFT_*` / `graft.*` names that the scripts under
    tools/, README.md or .claude/skills/ set or document but that no call
    site under src/main or src/test reads: a script or doc that still runs
    a deleted knob. r18/ holds run records and is not scanned. A dotted
    `graft.<pkg>...` name whose first segment is a source package or file
    (`graft.streaming.OnlineIngestor`) is code, not a key;
plus the two counts. Only call sites count: a key named in a comment or a
logger name is not a knob.

Usage: knob_count.py [srcRoot]   (default: src/main next to this tool;
the stale check always reads the repo's own src/main and src/test)"""
import json, os, re, sys

repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, "src", "main")

# `.getOption(` may sit on the line after `spark.conf`; matching the
# call and its literal argument is enough, whitespace included
CONF = re.compile(
    r'\.(?:getOption|get|getOrElse|contains|getProperty)\(\s*"(graft\.[\w.]+)"')
ENV = re.compile(
    r'(?:sys\.env(?:\s*\.\s*(?:get|getOrElse|contains|apply))?|System\.getenv)'
    r'\s*\(\s*"(SPARK_GRAFT_\w+)"')

# names as scripts and docs spell them
DOC_ENV = re.compile(r'\bSPARK_GRAFT_\w+')
DOC_KEY = re.compile(r'\bgraft(?:\.[A-Za-z]\w*){2,}')


def texts(top, exts):
    for d, _, files in os.walk(top):
        for f in files:
            if f.endswith(exts):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    yield fh.read()


def reads(top):
    """(graft keys, env vars) read at call sites under `top`, and its lines."""
    keys, envs, lines = set(), set(), 0
    for text in texts(top, (".scala", ".java")):
        lines += text.count("\n")
        keys.update(CONF.findall(text))
        envs.update(ENV.findall(text))
    return keys, envs, lines


def is_code_path(name):
    seg = os.path.join(repo, "src", "main", "scala", "graft", name.split(".")[1])
    return os.path.isdir(seg) or os.path.isfile(seg + ".scala")


keys, envs, lines = reads(root)
read_names = set()
for s in ("main", "test"):
    k, e, _ = reads(os.path.join(repo, "src", s))
    read_names |= k | e
with open(os.path.join(repo, "README.md"), encoding="utf-8") as fh:
    docs = [fh.read()]
for top in ("tools", os.path.join(".claude", "skills")):
    docs += texts(os.path.join(repo, top), (".py", ".sh", ".md"))
named = {n for t in docs for n in DOC_ENV.findall(t) + DOC_KEY.findall(t)}
stale = sorted(n for n in named
               if n not in read_names and not (n.startswith("graft.") and is_code_path(n)))

print(json.dumps({
    "main_lines": lines,
    "graft_keys": sorted(keys), "n_graft_keys": len(keys),
    "env_vars": sorted(envs), "n_env_vars": len(envs),
    "stale": stale,
}))
