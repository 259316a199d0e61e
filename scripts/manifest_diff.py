#!/usr/bin/env python3
"""Compare the committed table manifests of two warehouse trees.

Usage: python3 scripts/manifest_diff.py ROOT_A ROOT_B

Finds every `_manifest/v<N>.manifest` under each tree and pairs them by
their path relative to the tree root, with run stamps (digit runs of 11
or more, e.g. `System.nanoTime()` suffixes) masked; roots that then
share a name pair up in stamp order. Before comparing, each text is
masked of what differs between two runs of the same code:

  - the `#ts=` commit stamp;
  - UUIDs (the `data/<uuid>/…` and `deletes/<uuid>/…` directories and
    Spark's part-file names), plain or url-encoded;
  - the Spark task id in the DSv2 writers' `part-<partition>-<task>…`
    file names;
  - the byte size of each `#dv=` delete file: its rows hold
    UUID-bearing file keys, so its compressed size moves by a few bytes
    from run to run (its row count is still compared);
  - the tree root itself, which shallow clones record in absolute
    entry paths;
  - DvBloom payloads (`:~<base64>` on `#dv=` lines), whose bits hash
    the UUID-bearing file keys.

Prints a unified diff for every differing manifest, names every
manifest present on one side only, and names the manifests whose lines
differ only in order: entry and `#dv=` lines are listed in the order a
directory listing returns UUID-named files, which changes from run to
run. Exits 1 on any difference, else 0.
"""
import difflib
import os
import re
import sys
import urllib.parse

UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
STAMP = re.compile(r"\d{11,}")
TASK = re.compile(r"(part-\d+-)\d+(?=[-.])")
DV_SIZE = re.compile(r"^(#dv=[^:]*):\d+:", re.M)
TS = re.compile(r"^#ts=-?\d+$", re.M)
BLOOM = re.compile(r"^(#dv=.*?):~[A-Za-z0-9+/=]+$", re.M)


def manifests(tree):
    """{stamp-masked relative path (+ `#i` when stamps collide): path}"""
    found = {}
    for d, _, files in os.walk(tree):
        if os.path.basename(d) != "_manifest":
            continue
        for f in files:
            if re.fullmatch(r"v\d+\.manifest", f):
                rel = os.path.relpath(os.path.join(d, f), tree)
                found.setdefault(STAMP.sub("<n>", rel), []).append(rel)
    out = {}
    for key, rels in found.items():
        for i, rel in enumerate(sorted(rels)):
            out[key if len(rels) == 1 else f"{key}#{i}"] = os.path.join(tree, rel)
    return out


def masked(path, tree):
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    root = os.path.realpath(tree)
    for form in (root, urllib.parse.quote(root, safe="")):
        text = text.replace(form, "<root>")
    text = TS.sub("#ts=<ts>", text)
    text = BLOOM.sub(r"\1:~<bloom>", text)
    text = DV_SIZE.sub(r"\1:<size>:", text)
    return TASK.sub(r"\1<task>", UUID.sub("<uuid>", text))


def main(a, b):
    ma, mb = manifests(a), manifests(b)
    differ = 0
    for rel in sorted(set(ma) - set(mb)):
        print(f"only in {a}: {rel}")
        differ += 1
    for rel in sorted(set(mb) - set(ma)):
        print(f"only in {b}: {rel}")
        differ += 1
    same = reordered = 0
    for rel in sorted(set(ma) & set(mb)):
        la = masked(ma[rel], a).splitlines(True)
        lb = masked(mb[rel], b).splitlines(True)
        if la == lb:
            same += 1
        elif sorted(la) == sorted(lb):
            print(f"line order only: {rel}")
            reordered += 1
        else:
            sys.stdout.writelines(difflib.unified_diff(
                la, lb, f"{a}/{rel}", f"{b}/{rel}"))
        differ += la != lb
    print(f"{same}/{len(set(ma) | set(mb))} manifests identical, "
          f"{reordered} more identical up to line order")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
