"""Scalar function library: the template and FilterX compilers.

Reference: templates compile to per-message evaluators
(lib/template/), ~180 macros (lib/template/macros.c) and the
$(...) template-function registry (modules/basicfuncs/basic-funcs.c);
FilterX builtins register in lib/filterx/filterx-globals.c. Here each
language has one compiler, the only implementation of its functions:
``template_compiler`` (``$(fn)``, macros) and ``filterx_lang``
(FilterX builtins). ``templates`` holds the Column kernels and macros
the template compiler, operators and queries share. Every one of them
is a Column expression — evaluated inside whole-stage codegen, never
per-row Python.
"""

from axosyslog_spark.functions.templates import macro  # noqa: F401
