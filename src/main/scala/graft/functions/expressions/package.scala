package graft.functions

/** Compiled Catalyst kernels for the row-pipeline hot paths.
  *
  * A kernel that feeds a generator is written inside it, in one `select`:
  * `explode(kernel(...))`, never a projection of the kernel followed by an
  * `explode` of its bare alias. `InferFiltersFromGenerate` guards only
  * attribute inputs; over an alias, its inferred `size(x) > 0 AND
  * isnotnull(x)` is pushed through the projection with the whole kernel
  * substituted, which runs the kernel once in the Filter and again in the
  * Project. A generator whose input is an expression over the alias (the
  * CASE WHEN of [[graft.functions.Dedup.keyRows]]) gets no inferred
  * filter, so a kernel result that must also ride along as a column is
  * projected once and exploded that way. For the same reason, filter on
  * what the kernel reads, not on its result.
  */
package object expressions
