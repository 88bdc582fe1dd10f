#!/usr/bin/env python3
"""Knob census of the program code: prints ONE JSON line with
  - main_lines: line count of every .scala/.java file under the source root;
  - graft_keys: sorted distinct `graft.*` keys read from a session conf
    (`conf.get/getOption/contains`) or a JVM system property
    (`sys.props.get/getOrElse`, `System.getProperty`);
  - env_vars: sorted distinct `SPARK_GRAFT_*` environment variables read
    (`sys.env.get/getOrElse/contains/apply`, `System.getenv`);
plus the two counts. Only call sites count: a key named in a comment or a
logger name is not a knob.

Usage: knob_count.py [srcRoot]   (default: src/main next to this tool)"""
import json, os, re, sys

root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")

# `.getOption(` may sit on the line after `spark.conf`; matching the
# call and its literal argument is enough, whitespace included
CONF = re.compile(
    r'\.(?:getOption|get|getOrElse|contains|getProperty)\(\s*"(graft\.[\w.]+)"')
ENV = re.compile(
    r'(?:sys\.env(?:\s*\.\s*(?:get|getOrElse|contains|apply))?|System\.getenv)'
    r'\s*\(\s*"(SPARK_GRAFT_\w+)"')

lines, keys, envs = 0, set(), set()
for d, _, files in os.walk(root):
    for f in files:
        if not f.endswith((".scala", ".java")):
            continue
        with open(os.path.join(d, f), encoding="utf-8") as fh:
            text = fh.read()
        lines += text.count("\n")
        keys.update(CONF.findall(text))
        envs.update(ENV.findall(text))

print(json.dumps({
    "main_lines": lines,
    "graft_keys": sorted(keys), "n_graft_keys": len(keys),
    "env_vars": sorted(envs), "n_env_vars": len(envs),
}))
