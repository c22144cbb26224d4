package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization + registered-domain extraction for web-corpus
  * curation (canonical-URL dedup keys, per-domain quotas). Pure builtin
  * `functions._` compositions — codegen'd narrow string expressions, no
  * UDFs, no custom Expression needed (the build-brief preference order:
  * compose builtins first). Every regex is ANCHORED so Spark's
  * replace-all and DuckDB's replace-first `regexp_replace` semantics
  * coincide — that is what makes the DuckDB oracle an exact twin.
  *
  * Canonical form (the recipe, applied left to right):
  *   1. scheme lowercased;
  *   2. fragment (`#...`) stripped;
  *   3. userinfo (`user:pw@`) stripped;
  *   4. host lowercased, trailing dot stripped;
  *   5. port dropped iff it is the scheme default (http:80, https:443) —
  *      a non-default port is part of identity;
  *   6. path: trailing slashes stripped (path case is PRESERVED — paths
  *      are case-sensitive per RFC 3986);
  *   7. query: parameters split on `&`; empty pieces and tracking
  *      parameters (key starting `utm_`, `fbclid`, `gclid`) dropped;
  *      survivors sorted bytewise and rejoined — parameter order never
  *      distinguishes two URLs.
  */
object UrlOps {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.\\-]*)://"

  /** Lowercased scheme ("" when the URL carries none). */
  def scheme(url: Column): Column = lower(regexp_extract(url, SchemeRe, 1))

  private def afterScheme(url: Column): Column =
    regexp_replace(url, SchemeRe, "")

  /** authority+path+query with the fragment stripped. */
  private def noFragment(url: Column): Column =
    regexp_replace(afterScheme(url), "#.*$", "")

  private def authority(url: Column): Column =
    regexp_extract(noFragment(url), "^([^/?]*)", 1)

  private def hostPort(url: Column): Column =
    regexp_replace(authority(url), "^.*@", "")

  /** Lowercased host, trailing dot stripped, userinfo/port removed. */
  def host(url: Column): Column =
    regexp_replace(lower(regexp_replace(hostPort(url), ":[0-9]+$", "")), "\\.$", "")

  /** Explicit port digits ("" when absent). */
  def port(url: Column): Column =
    regexp_extract(hostPort(url), ":([0-9]+)$", 1)

  /** Path with trailing slashes stripped (case preserved). */
  def path(url: Column): Column = {
    val pathq = regexp_replace(noFragment(url), "^[^/?]*", "")
    regexp_replace(regexp_replace(pathq, "\\?.*$", ""), "/+$", "")
  }

  /** Raw query string after `?` ("" when absent), fragment excluded. */
  def query(url: Column): Column =
    regexp_extract(noFragment(url), "\\?(.*)$", 1)

  private def isTracking(p: Column): Column =
    lower(p).startsWith("utm_") || lower(p).startsWith("fbclid") ||
      lower(p).startsWith("gclid")

  /** The full canonical URL (see the recipe in the object scaladoc).
    *
    * LET-BOUND pipeline (ExprUtils.bind): the naive composition of the
    * per-part helpers re-derived the scheme-strip → fragment-strip →
    * authority → hostPort chain for every part (~30 regex evaluations per
    * row; port() alone appeared 4×), and `url` itself is often an
    * expensive synthesized expression (d_curate_e2e feeds the messy-URL
    * concat). Bound, each stage runs once; every regex and its
    * application order are IDENTICAL to the helper chain, so the DuckDB
    * oracle twin is untouched. */
  def canonicalUrl(url: Column): Column = {
    import graft.functions.ExprUtils.bind
    bind(url) { u =>
      bind(scheme(u)) { sch =>
        // noFragment(u), inlined once: afterScheme → fragment strip
        bind(regexp_replace(regexp_replace(u, SchemeRe, ""), "#.*$", "")) { nf =>
          // hostPort(u): authority → userinfo strip
          bind(regexp_replace(regexp_extract(nf, "^([^/?]*)", 1), "^.*@", "")) { hp =>
            bind(regexp_extract(hp, ":([0-9]+)$", 1)) { prt =>
              bind(concat_ws("&",
                array_sort(filter(split(regexp_extract(nf, "\\?(.*)$", 1), "&"),
                  p => length(p) > 0 && !isTracking(p))))) { q =>
                val hostC = regexp_replace(
                  lower(regexp_replace(hp, ":[0-9]+$", "")), "\\.$", "")
                val pathC = regexp_replace(regexp_replace(
                  regexp_replace(nf, "^[^/?]*", ""), "\\?.*$", ""), "/+$", "")
                val keepPort = prt =!= "" &&
                  !((sch === "http" && prt === "80") ||
                    (sch === "https" && prt === "443"))
                concat(
                  sch, lit("://"), hostC,
                  when(keepPort, concat(lit(":"), prt)).otherwise(lit("")),
                  pathC,
                  when(length(q) > 0, concat(lit("?"), q)).otherwise(lit("")))
              }
            }
          }
        }
      }
    }
  }

  /** Two-level public suffixes the registered-domain heuristic knows.
    * A full public-suffix list is data, not code — at production scale
    * load Mozilla's PSL as a broadcast dimension table; this built-in
    * core set keeps the operator deterministic and offline. */
  val TwoLevelSuffixes: Seq[String] =
    Seq("co.uk", "org.uk", "gov.uk", "ac.uk", "co.jp", "com.au", "com.br")

  /** Registered domain (eTLD+1) of the URL's host: the last two labels,
    * or three when the last two form a known two-level public suffix. */
  def registeredDomain(url: Column): Column = registeredDomainOfHost(host(url))

  /** As [[registeredDomain]], over an already-extracted host column.
    * `h` and its label split are let-bound — callers pass the full
    * host-extraction regex chain (or worse, host(messyUrl)), and the
    * unbound form re-ran it for the split AND the fallback branch, with
    * the split itself re-built for each of the five label accesses. */
  def registeredDomainOfHost(h: Column): Column = {
    import graft.functions.ExprUtils.bind
    bind(h) { hh =>
      bind(split(hh, "\\.")) { labels =>
        val n = size(labels)
        // try_element_at: null (not an ANSI error) when the host has fewer
        // labels than the index — the when-guards make that branch unreachable
        bind(concat_ws(".",
          try_element_at(labels, lit(-2)), try_element_at(labels, lit(-1)))) { lastTwo =>
          when(n >= 3 && lastTwo.isin(TwoLevelSuffixes: _*),
            concat_ws(".", try_element_at(labels, lit(-3)), lastTwo))
            .when(n >= 2, lastTwo)
            .otherwise(hh)
        }
      }
    }
  }
}
