package graft.dims

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Region dimension + resolution/match semantics (retrieve.py:1027-1195 —
  * J3/P6/X5): free-text locations resolve against a province→cities
  * dimension; a region RULE matches a document location when
  *  - city rule: exact city match;
  *  - province rule: the location's city belongs to that province (or the
  *    location names the province itself);
  *  - unresolvable rule: substring containment fallback.
  *
  * The dimension is the reference's full CHINA_REGIONS public-geography
  * table (retrieve.py:1027-1062), declaration order preserved — order is
  * SEMANTIC: province matching iterates declaration order, and the
  * city→province reverse index keeps the FIRST insertion position but the
  * LAST province for duplicate city names (Python dict overwrite,
  * retrieve.py:1065-1072). Always broadcast/literal — dimension-bounded.
  */
object Regions {

  /** province → cities, full public geography in the reference's
    * declaration order (retrieve.py:1027-1062).
    */
  val ProvinceCityList: Seq[(String, Seq[String])] = Seq(
    "北京" -> Seq("北京", "东城", "西城", "朝阳", "丰台", "石景山", "海淀", "门头沟", "房山", "通州", "顺义", "昌平", "大兴", "怀柔", "平谷", "密云", "延庆"),
    "天津" -> Seq("天津", "和平", "河东", "河西", "南开", "河北", "红桥", "东丽", "西青", "津南", "北辰", "武清", "宝坻", "滨海新区", "宁河", "静海", "蓟州"),
    "河北" -> Seq("石家庄", "唐山", "秦皇岛", "邯郸", "邢台", "保定", "张家口", "承德", "沧州", "廊坊", "衡水"),
    "山西" -> Seq("太原", "大同", "阳泉", "长治", "晋城", "朔州", "晋中", "运城", "忻州", "临汾", "吕梁"),
    "内蒙古" -> Seq("呼和浩特", "包头", "乌海", "赤峰", "通辽", "鄂尔多斯", "呼伦贝尔", "巴彦淖尔", "乌兰察布", "兴安", "锡林郭勒", "阿拉善"),
    "辽宁" -> Seq("沈阳", "大连", "鞍山", "抚顺", "本溪", "丹东", "锦州", "营口", "阜新", "辽阳", "盘锦", "铁岭", "朝阳", "葫芦岛"),
    "吉林" -> Seq("长春", "吉林", "四平", "辽源", "通化", "白山", "松原", "白城", "延边"),
    "黑龙江" -> Seq("哈尔滨", "齐齐哈尔", "鸡西", "鹤岗", "双鸭山", "大庆", "伊春", "佳木斯", "七台河", "牡丹江", "黑河", "绥化", "大兴安岭"),
    "上海" -> Seq("上海", "黄浦", "徐汇", "长宁", "静安", "普陀", "虹口", "杨浦", "闵行", "宝山", "嘉定", "浦东", "金山", "松江", "青浦", "奉贤", "崇明"),
    "江苏" -> Seq("南京", "无锡", "徐州", "常州", "苏州", "南通", "连云港", "淮安", "盐城", "扬州", "镇江", "泰州", "宿迁"),
    "浙江" -> Seq("杭州", "宁波", "温州", "嘉兴", "湖州", "绍兴", "金华", "衢州", "舟山", "台州", "丽水"),
    "安徽" -> Seq("合肥", "芜湖", "蚌埠", "淮南", "马鞍山", "淮北", "铜陵", "安庆", "黄山", "滁州", "阜阳", "宿州", "六安", "亳州", "池州", "宣城"),
    "福建" -> Seq("福州", "厦门", "莆田", "三明", "泉州", "漳州", "南平", "龙岩", "宁德"),
    "江西" -> Seq("南昌", "景德镇", "萍乡", "九江", "新余", "鹰潭", "赣州", "吉安", "宜春", "抚州", "上饶"),
    "山东" -> Seq("济南", "青岛", "淄博", "枣庄", "东营", "烟台", "潍坊", "济宁", "泰安", "威海", "日照", "临沂", "德州", "聊城", "滨州", "菏泽"),
    "河南" -> Seq("郑州", "开封", "洛阳", "平顶山", "安阳", "鹤壁", "新乡", "焦作", "濮阳", "许昌", "漯河", "三门峡", "南阳", "商丘", "信阳", "周口", "驻马店", "济源"),
    "湖北" -> Seq("武汉", "黄石", "十堰", "宜昌", "襄阳", "鄂州", "荆门", "孝感", "荆州", "黄冈", "咸宁", "随州", "恩施", "仙桃", "潜江", "天门", "神农架"),
    "湖南" -> Seq("长沙", "株洲", "湘潭", "衡阳", "邵阳", "岳阳", "常德", "张家界", "益阳", "郴州", "永州", "怀化", "娄底", "湘西"),
    "广东" -> Seq("广州", "深圳", "珠海", "汕头", "佛山", "韶关", "湛江", "肇庆", "江门", "茂名", "惠州", "梅州", "汕尾", "河源", "阳江", "清远", "东莞", "中山", "潮州", "揭阳", "云浮"),
    "广西" -> Seq("南宁", "柳州", "桂林", "梧州", "北海", "防城港", "钦州", "贵港", "玉林", "百色", "贺州", "河池", "来宾", "崇左"),
    "海南" -> Seq("海口", "三亚", "三沙", "儋州", "五指山", "琼海", "文昌", "万宁", "东方", "定安", "屯昌", "澄迈", "临高", "白沙", "昌江", "乐东", "陵水", "保亭", "琼中"),
    "重庆" -> Seq("重庆", "万州", "涪陵", "渝中", "大渡口", "江北", "沙坪坝", "九龙坡", "南岸", "北碚", "綦江", "大足", "渝北", "巴南", "黔江", "长寿", "江津", "合川", "永川", "南川", "璧山", "铜梁", "潼南", "荣昌", "开州", "梁平", "武隆", "城口", "丰都", "垫江", "忠县", "云阳", "奉节", "巫山", "巫溪", "石柱", "秀山", "酉阳", "彭水"),
    "四川" -> Seq("成都", "自贡", "攀枝花", "泸州", "德阳", "绵阳", "广元", "遂宁", "内江", "乐山", "南充", "眉山", "宜宾", "广安", "达州", "雅安", "巴中", "资阳", "阿坝", "甘孜", "凉山"),
    "贵州" -> Seq("贵阳", "六盘水", "遵义", "安顺", "毕节", "铜仁", "黔西南", "黔东南", "黔南"),
    "云南" -> Seq("昆明", "曲靖", "玉溪", "保山", "昭通", "丽江", "普洱", "临沧", "楚雄", "红河", "文山", "西双版纳", "大理", "德宏", "怒江", "迪庆"),
    "西藏" -> Seq("拉萨", "日喀则", "昌都", "林芝", "山南", "那曲", "阿里"),
    "陕西" -> Seq("西安", "铜川", "宝鸡", "咸阳", "渭南", "延安", "汉中", "榆林", "安康", "商洛"),
    "甘肃" -> Seq("兰州", "嘉峪关", "金昌", "白银", "天水", "武威", "张掖", "平凉", "酒泉", "庆阳", "定西", "陇南", "临夏", "甘南"),
    "青海" -> Seq("西宁", "海东", "海北", "黄南", "海南", "果洛", "玉树", "海西"),
    "宁夏" -> Seq("银川", "石嘴山", "吴忠", "固原", "中卫"),
    "新疆" -> Seq("乌鲁木齐", "克拉玛依", "吐鲁番", "哈密", "昌吉", "博尔塔拉", "巴音郭楞", "阿克苏", "克孜勒苏", "喀什", "和田", "伊犁", "塔城", "阿勒泰", "石河子", "阿拉尔", "图木舒克", "五家渠", "北屯", "铁门关", "双河", "可克达拉", "昆玉", "胡杨河", "新星", "白杨"),
    "台湾" -> Seq("台湾", "台北", "高雄", "基隆", "台中", "台南", "新竹", "嘉义"),
    "香港" -> Seq("香港"),
    "澳门" -> Seq("澳门"))

  /** province → cities as a lookup map (order-free API). */
  val ProvinceCities: Map[String, Seq[String]] = ProvinceCityList.toMap

  /** City → province reverse index with the reference's Python-dict
    * semantics (retrieve.py:1065-1072): iteration order = FIRST insertion
    * position of each city name; value = LAST province that declared it
    * (e.g. 朝阳 keeps its 北京-era position but maps to 辽宁).
    */
  val CityToProvince: Seq[(String, String)] = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, String]
    ProvinceCityList.foreach { case (p, cs) =>
      cs.foreach(c => order.update(c, p))
    }
    order.toSeq
  }

  /** Strip ONE administrative suffix, longest-first, keeping at least one
    * char (retrieve.py:1074-1093 — F7).
    */
  def normalizeRegion(c: Column): Column =
    regexp_replace(c, "(?<=.)(特别行政区|自治区|自治州|地区|盟|省|市|区|县)$", "")

  // literal arrays for the parse pipeline (dimension-bounded plan state)
  private def provinceArr: Column =
    array(ProvinceCityList.map(p => lit(p._1)): _*)
  private def globalCityArr: Column = array(CityToProvince.map(c => lit(c._1)): _*)
  private def globalProvArr: Column = array(CityToProvince.map(c => lit(c._2)): _*)

  /** Cities of one province, longest-first (stable on ties — the
    * reference's `sorted(key=len, reverse=True)`).
    */
  private[graft] def scopedCities(province: String): Seq[String] =
    ProvinceCities(province).sortBy(c => -c.length)

  /** The reference's `parse_location` (retrieve.py:1096-1152) as
    * expression-only columns — returns (province, city):
    *
    *  1. strip spaces/-/_; first province (declaration order) contained in
    *     the text wins;
    *  2. province matched → first of ITS cities, longest-first, contained
    *     in the text; when province == city (吉林/北京/…), the city is
    *     confirmed only if the text mentions 市, else it is a province
    *     query;
    *  3. no province → first city of the global reverse index (insertion
    *     order) contained in the text, which also fixes the province.
    *
    * Everything is literal arrays + HOF filters: codegen'd, no join, no
    * shuffle — and exactly reproducible as SQL over the same literals
    * (q95). NOTE: the two returned Columns share subtrees SYNTACTICALLY —
    * inlining both into one projection re-evaluates the scans several
    * times per row. Prefer [[resolve]], which stages each scan once; this
    * form remains for composing into single predicates.
    */
  def parseLocation(locCol: Column): (Column, Column) = {
    val text = regexp_replace(locCol, "[ \\-_]", "")
    val mp = try_element_at(filter(provinceArr, p => text.contains(p)), lit(1))
    // province-scoped city list: declaration-ordered fold into a CASE
    val scoped = ProvinceCityList.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (p, _)) =>
        when(mp === p, array(scopedCities(p).map(lit): _*)).otherwise(acc)
    }
    val mcRaw = try_element_at(filter(scoped, c => text.contains(c)), lit(1))
    val mc = when(mp === mcRaw && !text.contains("市"), lit(null)).otherwise(mcRaw)
    // global fallback: first contained city in reverse-index order
    val n = CityToProvince.length
    val gi = try_element_at(
      filter(sequence(lit(1), lit(n)),
        i => text.contains(element_at(globalCityArr, i))), lit(1))
    val province = when(mp.isNotNull, mp).otherwise(try_element_at(globalProvArr, gi))
    val city = when(mp.isNotNull, mc).otherwise(try_element_at(globalCityArr, gi))
    (province, city)
  }

  /** Resolve free-text locations: returns the input plus (province, city)
    * columns — same algorithm as [[parseLocation]], but each expensive
    * stage (text strip, province scan, scoped-city scan, global-index
    * scan) is hoisted into its own projection so it evaluates ONCE per
    * row. [[parseLocation]]'s two returned Columns each embed full copies
    * of the shared subtrees (Column sharing is syntactic), and the
    * scoped-city CASE alone would re-reference the province scan ~33
    * times; staged ALIASES stay single-evaluation because CollapseProject
    * refuses to inline a non-cheap alias referenced more than once. The
    * global fallback is guarded by `__mp IS NULL`, so province-matched
    * rows never pay the full-index scan. Temp columns are dropped.
    */
  def resolve(locs: DataFrame, locCol: String): DataFrame = {
    val text = col("__loc_text")
    val mp = col("__mp")
    val scoped = ProvinceCityList.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (p, _)) =>
        when(mp === p, array(scopedCities(p).map(lit): _*)).otherwise(acc)
    }
    val n = CityToProvince.length
    locs
      .withColumn("__loc_text", regexp_replace(col(locCol), "[ \\-_]", ""))
      .withColumn("__mp",
        try_element_at(filter(provinceArr, p => text.contains(p)), lit(1)))
      .withColumn("__mc_raw",
        try_element_at(filter(scoped, c => text.contains(c)), lit(1)))
      .withColumn("__gi", when(mp.isNull,
        try_element_at(filter(sequence(lit(1), lit(n)),
          i => text.contains(element_at(globalCityArr, i))), lit(1))))
      .withColumn("province",
        when(mp.isNotNull, mp).otherwise(try_element_at(globalProvArr, col("__gi"))))
      .withColumn("city",
        when(mp.isNotNull,
          when(mp === col("__mc_raw") && !text.contains("市"), lit(null))
            .otherwise(col("__mc_raw")))
          .otherwise(try_element_at(globalCityArr, col("__gi"))))
      .drop("__loc_text", "__mp", "__mc_raw", "__gi")
  }

  /** P6/X5 — region-rule predicate over RESOLVED columns
    * (retrieve.py:1154-1195): call after `resolve`/`parseLocation` on both
    * the rule and the document location.
    */
  def regionMatch(
      ruleProvince: Column, ruleCity: Column,
      docProvince: Column, docCity: Column,
      ruleRaw: Column, docRaw: Column): Column =
    when(ruleCity.isNotNull, ruleCity === docCity)
      .when(ruleProvince.isNotNull, ruleProvince === docProvince)
      .otherwise(docRaw.contains(ruleRaw))   // unresolvable → substring
}
