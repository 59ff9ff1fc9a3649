#!/usr/bin/env python3
"""Rewrite each `static_invoke(graft.plans.Owner.fn(args))` in a DevExplain
dump back to the rendering of the expression class it replaced
(`shinglehashes(args)`, ...), so that dev/plandiff.py shows whether
anything besides the spelling of a kernel call changed:

  python3 plans/pr14/old_spelling.py after.txt > after_old.txt
  python3 dev/plandiff.py before.txt after_old.txt
"""
import sys, re
OLD = {
 "VectorOps.simhash64": "simhash64", "VectorOps.simhash64Md5": "simhash64md5",
 "VectorOps.winnow": "winnow", "VectorOps.shingleHashes": "shinglehashes",
 "VectorOps.pqEncode": "pqencode", "VectorOps.minhashSigPortable": "portableminhashsig",
 "VectorOps.tokenChunks": "tokenchunks", "VectorOps.jaccardSorted": "jaccardsortedlongs",
 "CsvOps.splitLine": "csvsplitline", "DateKernels.parseFlexDate": "parseflexdate",
 "StringExpressions.repStats": "repstats", "StringExpressions.textStats": "textstats",
 "StringOps.nfc": "nfcnormalize", "NumericOps.orderedPrefix": "ordereddoubleprefix",
 "HtmlTables.evalParse": "htmltablecells",
}
PAT = re.compile(r"static_invoke\(graft\.(?:plans|sources)\.(\w+\.\w+)\(")
def sub(line):
    while True:
        m = PAT.search(line)
        if not m: return line
        # find the closing paren of the inner call, then of static_invoke
        i, depth = m.end(), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(line[i], 0); i += 1
        inner = line[m.end():i - 1]
        assert line[i] == ")", line
        name = OLD[m.group(1)]
        if name == "csvsplitline":  # the delimiter printed as its char
            head, code = inner.rsplit(", ", 1)
            inner = head + ", " + chr(int(code))
        line = line[:m.start()] + name + "(" + inner + ")" + line[i + 1:]
for l in open(sys.argv[1], encoding="utf-8", errors="replace"):
    sys.stdout.write(sub(l))
